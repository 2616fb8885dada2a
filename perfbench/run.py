#!/usr/bin/env python3
"""The repository benchmark: fluvii's exactly-once table loop on graft,
draining a backlog, beside an oracle-checked mix of batch queries.

    python3 perfbench/run.py --workload <batch_mix|stream_catchup>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source (see
build.py), runs one JVM for the workload, checks the outputs, prints a
report on stderr and, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, taken from a run with listeners and spans installed, and
the report gives the tracing overhead against the last untraced run of the
same workload. Inputs: the TESTDATA parquet corpus (PERFBENCH_SF_DIR,
default ~/testdata/sf0.1 as TESTDATA.md places it) and, for stream_catchup,
rows the JVM generates from --seed.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20
# What build.sbt passes to every forked run: its heap limit, the JDK 17
# module opens Spark needs outside spark-submit, the UI off, UTC.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# The percentile stream_catchup reports as its tail; the JVM runs long
# enough that at least stats.MIN_BEYOND batches lie beyond it.
CATCHUP_TAIL_P = 75.0
# Per-layer metrics of layers a workload does not pass through read 0.
BYPASSED = {
    "batch_mix": ("stream.", "state.", "sinks."),
    "stream_catchup": ("operators.",),
}


class Fail(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec():
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        raise Fail(f"{path} not found")
    return json.loads(path.read_text())


def sf_dir():
    sf = pathlib.Path(os.environ.get("PERFBENCH_SF_DIR",
                                     pathlib.Path.home() / "testdata" / "sf0.1"))
    if not (sf / "lineitem.parquet").exists():
        raise Fail(f"TESTDATA not found at {sf}")
    return sf


def run_jvm(classes, run_dir, args, sf, cores):
    jars = build.spark_jars()
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-cp", f"{classes}:{jars}/*"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(run_dir), "--cores", str(cores), "--sf", str(sf),
    ]
    with open(run_dir / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise Fail(f"JVM exceeded {JVM_TIMEOUT_S} s; log: {run_dir / 'jvm.log'}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not (run_dir / "raw.json").exists():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise Fail(f"JVM exited with {rc}:\n{tail}")
    return json.loads((run_dir / "raw.json").read_text())


def oracle_check(sf, results, report):
    """The repository's DuckDB oracle gate, tools/check_oracle.py, over the
    results batch_mix wrote: {query: None if it matches, else why not}."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"), str(sf),
                            str(results), "--json", str(report)], cwd=ROOT, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise Fail(f"oracle check exceeded {ORACLE_TIMEOUT_S} s")
    if not report.exists():
        raise Fail(f"oracle check exited with {r.returncode}:\n{r.stdout[-3000:]}")
    verdict = json.loads(report.read_text())
    return {q: None if x["hash_match"] else (x["err"] or "mismatch")
            for q, x in verdict.items() if not q.startswith("_")}


def end_to_end(workload, raw):
    """The end-to-end metrics, plus report-only figures, from one run."""
    s, v = raw["samples"], raw["values"]
    out = {"setup_s": statistics.median(s["setup_s"]), "live_mem_mb": v["live_mem_mb"]}
    # report only: the resident-set peak moves with when G1 grows the heap;
    # the other cores' load shows whether the machine was busy meanwhile
    extra = {"setup_s_samples": s["setup_s"],
             **{k: round(v[k], 3) for k in ("live_heap_mb", "live_gc_rounds", "rss_peak_mb",
                                            "others_cores", "steal_cores")}}
    if workload == "batch_mix":
        names = raw["facts"]["order"].split(",")
        per_q = {q: s[f"build_s.{q}"][0] + s[f"exec_s.{q}"][0]
                 for q in names if f"build_s.{q}" in s}
        if len(per_q) != len(names):
            raise Fail(f"queries without a timing: {sorted(set(names) - set(per_q))}")
        total = sum(per_q.values())
        out["throughput_per_s"] = len(per_q) / total
        out["latency_p50_ms"] = stats.geomean(list(per_q.values())) * 1000.0
        out["latency_tail_ms"] = total * 1000.0
        extra.update(batch_total_s=total, batch_geomean_s=out["latency_p50_ms"] / 1000.0,
                     queries=len(per_q),
                     per_query_s={q: round(t, 4) for q, t in per_q.items()})
    else:
        b = s["batch_ms"]
        summ = stats.summarize(b)
        # messages over the time spent in the measured batches, so the
        # benchmark's own generation of each batch's rows is left out
        out["throughput_per_s"] = len(b) * v["batch_msgs"] / (sum(b) / 1000.0)
        out["latency_p50_ms"] = summ["p50"]
        out["latency_tail_ms"] = tail(b, CATCHUP_TAIL_P)
        extra.update(catchup_msgs_per_s=out["throughput_per_s"], catchup_batch_p50_ms=summ["p50"],
                     catchup_batch_tail=f"p{CATCHUP_TAIL_P:g}", batches=len(b),
                     highest_percentile_with_10_beyond=summ["tail_p"])
    return out, extra


def tail(values, p):
    if stats.beyond(len(values), p) < stats.MIN_BEYOND:
        raise Fail(f"{len(values)} samples leave fewer than {stats.MIN_BEYOND} beyond p{p:g}")
    return stats.percentile(values, p)


def per_layer(workload, raw, names):
    s, v = raw["samples"], raw["values"]
    out, missing = {}, []
    for name in names:
        base = name.rsplit("_p", 1)[0]
        if name in v:
            out[name] = v[name]
        elif name.endswith("_p50") and s.get(base):
            out[name] = statistics.median(s[base])
        elif name.startswith(BYPASSED[workload]):
            out[name] = 0.0
        else:
            missing.append(name)
    if missing:
        raise Fail(f"per-layer metrics not measured: {missing}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    if args.workload not in workloads + ["selftest"]:
        raise Fail(f"unknown workload {args.workload}; expected one of {workloads}")
    classes = build.build()
    sf = sf_dir()
    cores = len(os.sched_getaffinity(0))
    base = build.build_dir() / "perfbench"
    run_dir = base / "runs" / f"{args.workload}-{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        raw = run_jvm(classes, run_dir, args, sf, cores)
        if args.workload == "selftest":
            return raw
        attempted = int(raw["values"]["attempted"])
        failed = int(raw["values"]["failed"])
        checks = {k: x for k, x in raw["facts"].items() if k.startswith(("failed.", "checks"))}
        if args.workload == "batch_mix":
            verdict = oracle_check(sf, run_dir / "results", run_dir / "oracle.json")
            bad = {q: why for q, why in verdict.items()
                   if why and f"failed.{q}" not in raw["facts"]}
            failed += len(bad)
            checks.update({f"oracle.{q}": why for q, why in bad.items()})
        e2e, extra = end_to_end(args.workload, raw)
    finally:
        for d in ("tmp", "results", "warehouse"):
            shutil.rmtree(run_dir / d, ignore_errors=True)

    report = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "failed_ops_frac": failed / attempted, "checks": checks, **extra}
    last_untraced = base / f"last-untraced-{args.workload}.json"
    if args.trace:
        metrics = per_layer(args.workload, raw, [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        if last_untraced.exists():
            ref = json.loads(last_untraced.read_text())
            report["tracing_overhead"] = {
                k: f"{(e2e[k] - ref[k]) / ref[k]:+.1%} ({ref[k]:.4g} -> {e2e[k]:.4g})"
                for k in e2e if k in ref and ref[k]}
        else:
            report["tracing_overhead"] = "no untraced run of this workload yet"
        report["spans"] = str(run_dir / "spans.jsonl")
    else:
        metrics = e2e
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        last_untraced.write_text(json.dumps(e2e))
    for k, x in report.items():
        log(f"{k}: {x}")
    for k, x in metrics.items():
        log(f"{k} = {x:.6g} {units[k]}")
    correct = failed == 0 and attempted > 0
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}


if __name__ == "__main__":
    try:
        result = main()
    except (Fail, build.BuildError) as e:
        log(f"FAILED: {e}")
        sys.exit(2)
    print(json.dumps(result))
