#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: report_ingest, curation_batch (DESIGN.md).
Builds the program from source on first use (build.py), generates the
seeded inputs, runs the workload in one JVM at local[nproc], checks every
output, and prints as its last stdout line one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1). The line before it carries the
bases (sizes, versions) and the workload's own metric names.

The tables are the fixed generated ones in $GRAFT_BENCH_DATA (default
~/testdata/sf0.01); the seed does not change them.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("report_ingest", "curation_batch")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REPORT_FILES, REPORT_RECORDS = 300, 3000   # the full batch
EXTRA_FILES, EXTRA_RECORDS = 30, 300       # files that arrive before the incremental batch
WARM_FILES, WARM_RECORDS = 20, 100         # small fixed set ingested by the warm-up
HEAP = "3g"
SETUPS = 2          # cold set-ups per run: a set-up-only JVM and the workload's JVM
RUN_BUDGET_S = 165  # every JVM of a run ends within this, counted after the build

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def metric_units():
    """(end-to-end, per-layer) name -> unit maps, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def die(msg, code=2):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.exit(code)


def data_dir():
    d = os.environ.get("GRAFT_BENCH_DATA") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.01")
    missing = [t for t in TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        die(f"tables missing under {d}: {', '.join(missing)} (set GRAFT_BENCH_DATA)")
    return os.path.abspath(d)


def percentile(xs, p):
    """Linear-interpolated percentile of a sample (p in 0..100)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def window_metrics(w):
    lat = w["latency_ms"]
    return {"cpu_s_per_round": w["cpu_s"] / w["rounds"] if w["rounds"] else 0.0,
            "throughput_per_s": w["throughput_per_s"],
            "latency_ms.p50": percentile(lat, 50), "latency_ms.p90": percentile(lat, 90)}


def run_jvm(cp, args, work, deadline, name="result"):
    """Runs graftbench.Main; returns the `<name>.json` it writes."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap keeps GC sizing, and so the CPU a round burns, from
    # following the JVM's heap-growth timing
    cmd = (["java"] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}",
                               f"-Djava.io.tmpdir={work}/tmp",
                               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                               "-cp", ":".join(cp), "graftbench.Main"] + args
           + ["--result", f"{name}.json"])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, f"{name}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"stopped by signal {signum}", 1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        die(f"benchmark JVM failed ({rc}):\n{tail}", 1)
    with open(os.path.join(work, f"{name}.json")) as f:
        return json.load(f)


def check_ingest(work, expected_base, expected_extra):
    import reports
    checked = os.path.join(work, "checked")
    pq = os.path.join(checked, "parquet")
    with open(os.path.join(checked, "parquet_after_full.txt")) as f:
        after_full = [os.path.join(pq, n.strip()) for n in f if n.strip().endswith(".parquet")]
    after_append = sorted(os.path.join(pq, n) for n in os.listdir(pq) if n.endswith(".parquet"))
    new_files = [p for p in after_append if p not in set(after_full)]
    checks = [
        ("csv after full batch", reports.read_csv_dir(os.path.join(checked, "csv_full")),
         expected_base),
        ("parquet after full batch", reports.read_parquet_files(after_full), expected_base),
        ("csv after incremental batch", reports.read_csv_dir(os.path.join(checked, "csv_append")),
         expected_base + expected_extra),
        ("parquet appended by incremental batch", reports.read_parquet_files(new_files),
         expected_extra),
        ("parquet after incremental batch", reports.read_parquet_files(after_append),
         expected_base + expected_extra),
    ]
    fails = [m for m in (reports.compare(label, got, want) for label, got, want in checks) if m]
    return len(checks), fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    end_to_end, per_layer = metric_units()
    try:
        cp = build.build()
    except build.BuildError as e:
        die(f"build error: {e}")
    deadline = time.monotonic() + RUN_BUDGET_S
    data = data_dir()
    nproc = os.cpu_count() or 1
    runs = os.path.join(HERE, ".work", "runs")
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--work", work, "--nproc", str(nproc)]
        inputs = {}
        if a.workload == "report_ingest":
            import reports
            base, base_bytes = reports.write_reports(
                os.path.join(work, "reports", "in"), REPORT_FILES, REPORT_RECORDS, a.seed)
            extra, extra_bytes = reports.write_reports(
                os.path.join(work, "reports", "extra"), EXTRA_FILES, EXTRA_RECORDS, a.seed + 1,
                REPORT_FILES)
            reports.write_reports(os.path.join(work, "reports", "warm"), WARM_FILES, WARM_RECORDS,
                                  0, 90000)
            inputs = {"files": REPORT_FILES + EXTRA_FILES, "bytes": base_bytes + extra_bytes,
                      "records": len(base) + len(extra)}
            args += ["--expect-base", str(len(base)), "--expect-extra", str(len(extra))]
        # set-up is timed from JVM start, so each sample needs a fresh JVM
        setups = [run_jvm(cp, args + ["--setup-only", "1"], work, deadline, f"setup{i}")
                  for i in range(1, SETUPS)]
        res = run_jvm(cp, args, work, deadline)
        setups.append(res)

        failures = list(res["failures"])
        attempted = res["attempted"]
        try:
            if a.workload == "report_ingest":
                n, fails = check_ingest(work, base, extra)
            else:
                import checks
                with open(os.path.join(work, "oracle_sql.json")) as f:
                    oracle_sql = json.load(f)
                queries = res["bases"]["queries"].split(",")
                n, fails = checks.check_results(data, os.path.join(work, "results"), queries,
                                                oracle_sql)
        except Exception as e:  # outputs that cannot be read fail the check
            n, fails = 1, [f"output check: {type(e).__name__}: {e}"]
        attempted += n
        failures += fails
        failed = len(failures)

        untraced = window_metrics(res["untraced"])
        e2e = {"setup_s": statistics.median(s["setup_s"] for s in setups),
               "peak_live_mb": res["peak_live_mb"], **untraced}
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "bases": {**res["bases"], "inputs": inputs},
                  "failed_share": failed / max(1, attempted), "failures": failures[:20],
                  "setup_samples_s": [s["setup_s"] for s in setups],
                  "live_mb_samples": res["live_mb_samples"], "vm_hwm_mb": res["vm_hwm_mb"],
                  "samples": len(res["untraced"]["latency_ms"]),
                  "window_s": res["untraced"]["wall_s"], "end_to_end": e2e}
        if a.workload == "report_ingest":
            detail["ingest.records_per_s"] = e2e["throughput_per_s"]
            detail["ingest.append_s"] = e2e["latency_ms.p50"] / 1000.0
        else:
            detail["curation.pass_s"] = (res["bases"]["operators"] / e2e["throughput_per_s"]
                                         if e2e["throughput_per_s"] else None)

        if a.trace:
            layers = dict(res["layers"])
            for k in ("create", "warmup"):
                layers[f"session.{k}_s"] = statistics.median(
                    s[f"session_{k}_s"] for s in setups)
            traced = window_metrics(res["traced"])
            after = window_metrics(res["untraced_after"])
            neighbours = {k: (untraced[k] + after[k]) / 2 for k in traced}
            tp, cpu = neighbours["throughput_per_s"], neighbours["cpu_s_per_round"]
            layers["trace.overhead.throughput_share"] = (
                (tp - traced["throughput_per_s"]) / tp if tp else 0.0)
            layers["trace.overhead.cpu_share"] = (
                (traced["cpu_s_per_round"] - cpu) / cpu if cpu else 0.0)
            for p in ("p50", "p90"):
                layers[f"trace.overhead.latency_{p}_ms"] = (
                    traced[f"latency_ms.{p}"] - neighbours[f"latency_ms.{p}"])
            detail["traced_end_to_end"] = traced
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in per_layer.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}

        # keep the small artifacts of the run: result, spans and summary
        keep = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for name in ("result.json", "spans.jsonl", "result.log", "oracle_sql.json"):
            if os.path.exists(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name), keep)
        with open(os.path.join(keep, "summary.json"), "w") as f:
            json.dump(detail, f, indent=1)

        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
