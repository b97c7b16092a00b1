#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (`build.py`), makes the seeded inputs,
runs one benchmark JVM (`graft.perfbench.PerfBench`) in a fresh run
directory (the docs corpus is made before it, by a `--prepare` JVM), checks its outputs against the DuckDB references
(`reference.py`) and prints, as the last line of stdout, one JSON object
with `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
untraced, the per-layer metrics traced). Workloads and metrics are in
README.md. Everything the run writes stays under `.bench_build/` in the
checkout.
"""
import argparse
import faulthandler
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing beside the sources

import build  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_build"
WORKLOADS = ["verdict_clean", "operator_queries"]
QUERIES = ["d_dedup_minhash", "d_ngram_jaccard", "v_span_patterns"]
LAYERS_DOCS = ["sources.scan_s", "sources.input_mb", "plans.span_pred_s",
               "rules.eval_s", "operators.span_violations_s",
               "operators.verdict_agg_s", "operators.flat_violations_s",
               "operators.violation_write_s", "operators.resumable_serial_s",
               "operators.resume_s", "sources.output_mb",
               "sources.commit_read_ms"]
LAYERS_QUERIES = [f"queries.{q}_{k}" for q in QUERIES for k in ("s", "jobs")]
LAYERS_ALL = ["rules.load_ms", "rules.compile_ms", "spark.jobs", "spark.tasks",
              "spark.shuffle_write_mb", "spark.spill_mb", "spark.task_run_s",
              "spark.core_busy", "jvm.gc_s"]
UNITS = {"_ms": "ms", "_s": "s", "_mb": "MB", "_jobs": "count",
         "spark.jobs": "count", "spark.tasks": "count",
         "spark.core_busy": "ratio"}
# the module opens Spark needs on JDK 17 (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]
JVM_DEADLINE_S = 170


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    return next(u for suffix, u in UNITS.items() if name.endswith(suffix))


def run_jvm(classes: Path, run: Path, args: list, log_name: str, budget: float):
    cmd = ["java", *ADD_OPENS, "-Xmx4g", "-XX:+UseParallelGC", "-Xss8m",
           f"-Djava.io.tmpdir={run / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={run / 'warehouse'}",
           f"-Dspark.local.dir={run / 'local'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{build.classpath()}",
           "graft.perfbench.PerfBench", "--data", str(WORK / "data"), *args]
    log_file = run / log_name
    with open(log_file, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM ({log_name}) exceeded {budget:.0f} s")
    if rc != 0:
        tail = log_file.read_text()[-3000:]
        raise RuntimeError(f"JVM ({log_name}) failed (exit {rc}):\n{tail}")


def check(a, rec: dict, run: Path) -> list:
    """Per operation (the passes, then the traced ledger rounds): True when
    every check of that operation held."""
    import reference as ref
    ops = rec["passes"] + rec.get("ledger_checks", [])
    for p in ops:
        if p["why"]:
            print(f"[bench] operation failed: {p['why']}", file=sys.stderr)
    if a.workload == "operator_queries":
        sf = Path(rec["sf"])
        oracle = ref.ops_reference_cached(sf, dict(rec["oracle_sql"]))
        errs = {q: ref.check_query(ref.spark_rows(run / "ops_out" / q), oracle[q])
                for q in QUERIES}
        for q, e in errs.items():
            if e:
                print(f"[bench] {q}: {e}", file=sys.stderr)
        return [{q: p["query_ok"][q] and not errs[q] for q in QUERIES}
                for p in ops]
    r = ref.docs_reference_cached(Path(rec["corpus_dir"]), HERE / "rules" / "headline.yaml")
    errs = ref.check_verdict(rec["passes"][0], r)
    run_errs = [ref.check_run(c, r) for c in rec.get("ledger_checks", [])]
    for e in errs + [e for es in run_errs for e in es]:
        print(f"[bench] {e}", file=sys.stderr)
    return ([{"pass": p["ok"] and not errs} for p in rec["passes"]] +
            [{"run": c["ok"] and not es} for c, es in
             zip(rec.get("ledger_checks", []), run_errs)])


def tally(a, rec: dict, run: Path) -> tuple:
    """(attempted, failed, walls of the passes whose checks all held)."""
    oks = check(a, rec, run)
    attempted = sum(len(o) for o in oks)
    failed = sum(1 for o in oks for v in o.values() if not v)
    good = [p["wall_s"] for p, o in zip(rec["passes"], oks) if all(o.values())]
    return attempted, failed, good


def untraced(a, rec: dict, run: Path) -> dict:
    attempted, failed, good = tally(a, rec, run)
    metrics = {
        "setup_s": {"value": rec["setup"]["total_s"], "unit": "s"},
        "pass_s": {"value": statistics.median(good) if good else None, "unit": "s"},
        "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
    }
    return {"correct": failed == 0 and bool(good), "attempted": attempted,
            "failed": failed, "metrics": metrics}


def traced(a, rec: dict, run: Path) -> dict:
    attempted, failed, _ = tally(a, rec, run)
    layers = dict(rec["layers"])
    names = LAYERS_ALL + LAYERS_DOCS + LAYERS_QUERIES
    metrics = {n: float(layers.get(n, 0.0)) for n in names}
    for n in names:
        print(json.dumps({"layer": n, "value": metrics[n], "unit": unit(n),
                          "on_path": n in layers}))
    # share of the untraced pass the separately measured layers explain
    # (verdict_agg_s is the residual, so it is left out)
    path = ([f"queries.{q}_s" for q in QUERIES] if a.workload == "operator_queries"
            else ["sources.scan_s", "plans.span_pred_s", "rules.eval_s",
                  "operators.span_violations_s"])
    _, before, with_listener, after = (p["wall_s"] for p in rec["passes"])
    plain = (before + after) / 2
    print(json.dumps({
        "tracing_overhead_s": with_listener - plain,
        "untraced_pass_s": plain, "traced_pass_s": with_listener,
        "layers_share_of_pass": sum(metrics[n] for n in path) / plain}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": unit(n)} for n, v in metrics.items()}}


def main():
    faulthandler.enable()  # a native abort prints the Python stack
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"[bench] build failed: {e}")
    t0 = time.monotonic()

    run = WORK / "run"
    shutil.rmtree(run, ignore_errors=True)
    for d in ["tmp", "warehouse", "local"]:
        (run / d).mkdir(parents=True)

    def budget():
        return JVM_DEADLINE_S - (time.monotonic() - t0)
    extra = []
    if a.workload == "operator_queries":
        import gen_tables
        sf = WORK / "data" / "ops"
        gen_tables.ensure(sf, a.seed, gen_tables.SIZES)
        extra = ["--sf", str(sf)]
    else:
        run_jvm(classes, run, ["--prepare", "--seed", str(a.seed)],
                "prepare.log", budget())
    t_inputs = time.monotonic()
    result = run / "result.json"
    run_jvm(classes, run, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--run", str(run),
        "--rules", str(HERE / "rules"), "--result", str(result), *extra],
        "jvm.log", budget())
    t_jvm = time.monotonic()
    rec = json.loads(result.read_text())
    out = traced(a, rec, run) if a.trace else untraced(a, rec, run)
    print(f"[bench] inputs {t_inputs - t0:.1f} s, benchmark JVM {t_jvm - t_inputs:.1f} s, "
          f"checks {time.monotonic() - t_jvm:.1f} s", file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    try:
        code = main()
    except RuntimeError as e:
        print(f"[bench] {e}", file=sys.stderr)
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # the JVM has exited and every output is written: skip interpreter
    # teardown, where native thread pools (DuckDB, Arrow) can abort the
    # process ("terminate called without an active exception" was seen once)
    os._exit(code)
