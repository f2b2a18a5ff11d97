"""Benchmark for the engine: seeded workloads, end-to-end and per layer.

    python3 perfbench/run.py --workload lake-analytics --seed 1 --seconds 8 --trace 0

One driver process at ``local[N]`` (N = usable CPUs) and one client in a
closed loop: the next op starts when the previous one returns. A run:

1. generates the workload's inputs from ``--seed`` (perfbench/gen.py);
2. set-up: starts the session and runs two warm-up passes over the op
   mix, the first collecting each op's output (the warm-up lets
   first-execution JIT/codegen settle);
3. measures as many whole passes over the op mix, in a seeded order,
   as fill ``--seconds`` at the workload's nominal pass time (at least
   three);
4. checks the warm-up outputs against DuckDB twins / a numpy reference,
   outside every timed window;
5. stops the session and its JVM, removes every file it wrote except its
   result artifacts, and prints the result as the last stdout line.

End-to-end metrics (``--trace 0``): ``setup_s``, ``wall_s`` (the median
measured pass over the mix, first op start to last op return) and
``op_p50_s`` (the median over ops of each op's median latency);
``jvm_peak_rss_mb``, ``op_tail_s`` and ``fail_frac`` are
printed above the result line. ``--trace 1`` mixes traced and
untraced passes, adds spans, Spark's REST counters and a streaming
listener to the traced ones and reports the per-layer metrics
(perfbench/README.md) and the tracing overhead instead. Names and
units of the reported metrics come from BENCHMARK.json. Artifacts go to
``.perfbench/results/``, one file per workload, seed, CPU count and
tracing mode, never overwritten. Exits nonzero on any wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

PROCESS_T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = "4"
WARMUP_PASSES = 2



def declared() -> tuple[dict[str, str], dict[str, str]]:
    """Workload -> why and metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({w["name"]: w["why"] for w in spec["workloads"]},
            {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]})


def tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile above the median with at least ten
    samples beyond it, or None when the sample is too small."""
    n = len(samples)
    p = int(100 * (1 - 10 / n)) if n else 0
    if p <= 50:
        return None
    return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


def host_probe_s() -> float:
    """Median time of a fixed single-threaded Python loop: the host's
    speed at the start of a run, recorded beside the results."""
    def once() -> float:
        t, x = time.perf_counter(), 0
        for i in range(1_000_000):
            x += i * i
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(5))


def artifact_path(results: Path, stem: str) -> Path:
    path, k = results / f"{stem}.json", 1
    while path.exists():
        k += 1
        path = results / f"{stem}-{k}.json"
    return path


def parse_args() -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    args = parse_args()
    if not (ROOT / "__spark_entry__.py").is_file() or not (ROOT / "big_data_pipeline_spark").is_dir():
        print(f"perfbench: no engine found next to {HERE}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    master = f"local[{cpus}]"
    mode = "traced" if args.trace else "untraced"
    stem = f"{w.name}-seed{args.seed}-cpu{cpus}-{mode}"
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    work = ROOT / ".perfbench" / "work" / f"{stem}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "jvm-tmp", "lakes"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Everything the engine, its JVM and its Python workers write goes
    # under `work`; workers import the engine from ROOT whatever the cwd.
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = str(work / "tmp")
    # A terminated run still stops its JVM and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(work)
    try:
        return run(args, w, master, cpus, work, results, stem)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)  # also on error paths


def run(args, w, master, cpus, work: Path, results: Path, stem: str) -> int:
    import random

    import gen

    probe_s = host_probe_s()
    t = time.perf_counter()
    data = work / "data"
    sizes = gen.write_corpus(str(data), args.seed, w.sf, w.events_sf)
    gen_s = time.perf_counter() - t

    import spans as tr
    from big_data_pipeline_spark.session import get_spark
    from workloads import PIPELINE, OpRunner, check_pipeline, check_query

    t_setup = time.perf_counter()
    spark = get_spark(
        "perfbench", master=master,
        extra_conf={
            "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
            "spark.ui.showConsoleProgress": "false",
            # -XX:-UsePerfData: no hsperfdata file in the system /tmp.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'jvm-tmp'} -XX:-UsePerfData",
        },
    )
    session_start_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    gateway = spark.sparkContext._gateway
    tracer = tr.Tracer(spark, stem, enabled=bool(args.trace))
    progress = None
    if args.trace:
        progress = tr.StreamProgress()
        spark.streams.addListener(progress)
    try:
        runner = OpRunner(spark, tracer, str(data), str(work / "lakes"), w, args.seed)
        order = list(w.ops)
        random.Random(args.seed).shuffle(order)

        # Warm-up: every op once collecting its output for the checks,
        # then WARMUP_PASSES - 1 plain passes. First executions pay
        # JIT/codegen (2-3x a steady run) and the pass after them is
        # still 1.5x one; timing starts after both.
        outputs, errors = {}, {}
        tries = {op: WARMUP_PASSES for op in order}
        raised = 0
        for k in range(WARMUP_PASSES):
            tag = "warmup" if k == 0 else f"warmup{k + 1}"
            with tracer.span(tag, "pass"):
                for op in order:
                    try:
                        out = runner.run_op(op, tag, collect=k == 0)
                    except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                        raised += 1
                        errors.setdefault(op, f"{type(e).__name__}: {e}"[:500])
                        continue
                    if k == 0:
                        outputs[op] = out
        setup_s = time.perf_counter() - t_setup

        # Whole passes, as many as fill --seconds at the workload's
        # nominal pass time; fixing the count from the arguments (not
        # from the clock) gives every run the same execution history.
        # A traced run leaves pass 1 (still warming) untraced, then runs
        # adjacent pairs in the order (T U) (U T) (T U) ...: the tracing
        # overhead is the mean traced-minus-untraced difference over
        # the pairs, measured back to back in one JVM, and the swapped
        # order cancels a steady warming trend.
        lat: dict[str, list[float]] = {op: [] for op in order}
        pass_s: dict[bool, list[float]] = {False: [], True: []}
        by_pass: list[float] = []
        gc_s = 0.0
        passes = max(3, round(args.seconds / w.pass_s))
        t0 = time.perf_counter()
        for k in range(1, passes + 1):
            tag = f"pass{k}"
            tracer.enabled = bool(args.trace) and k > 1 and k % 2 == (k - 2) // 2 % 2
            gc0 = tr.gc_seconds(spark) if tracer.enabled else 0.0
            t_pass = time.perf_counter()
            with tracer.span(tag, "pass"):
                for op in order:
                    tries[op] += 1
                    t = time.perf_counter()
                    try:
                        runner.run_op(op, tag, collect=False)
                    except Exception as e:  # noqa: BLE001
                        raised += 1
                        errors.setdefault(op, f"{type(e).__name__}: {e}"[:500])
                        continue
                    if not tracer.enabled:  # end-to-end figures: tracing off
                        lat[op].append(time.perf_counter() - t)
            by_pass.append(time.perf_counter() - t_pass)
            pass_s[tracer.enabled].append(by_pass[-1])
            if tracer.enabled:
                gc_s += tr.gc_seconds(spark) - gc0
        window_s = time.perf_counter() - t0

        layers = None
        if args.trace:
            groups = {s["group"] for s in tracer.spans
                      if s["group"] and s["group"].startswith("pass")}
            status = tr.spark_status(spark)
            tracer.self_times()
            layers = tr.layer_metrics(tracer, status, progress, groups, cpus,
                                      len(pass_s[True]), gc_s)
            layers["session.start_s"] = session_start_s
            layers["pipeline.fetch_stub_s"] = runner.fetch_stub_s() if PIPELINE in order else 0.0
        rss_kb = next(int(line.split()[1]) for line in open(f"/proc/{jvm_pid}/status")
                      if line.startswith("VmHWM:"))
    finally:
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    stopped_at = time.perf_counter()
    # ---- correctness, outside every timed window
    import duckdb

    import __spark_entry__ as entry

    duck = duckdb.connect()
    for name in sizes:
        p = data / f"{name}.parquet"
        glob = p / "*.parquet" if p.is_dir() else p
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
    oracle = entry.oracle_sql()
    for op, out in outputs.items():
        if op == PIPELINE:
            bad = check_pipeline(*out, runner.symbols, w.periods, args.seed)
        else:
            bad = check_query(op, *out, duck, oracle)
        if bad:
            errors[op] = f"wrong output: {bad}"
    duck.close()
    check_s = time.perf_counter() - stopped_at
    # An op with wrong output is wrong on every execution (same code,
    # same input); an op that raised counts each raise.
    wrong = [op for op, e in errors.items() if e.startswith("wrong output")]
    attempted = sum(tries.values())
    failed = raised + sum(tries[op] for op in wrong)

    samples = sorted(x for v in lat.values() for x in v)
    medians = {op: statistics.median(v) for op, v in lat.items() if v}
    untraced = pass_s[False]
    e2e = {
        "setup_s": setup_s,
        # One measured pass over the mix, first op start to last op
        # return; the median of the run's untraced passes.
        "wall_s": statistics.median(untraced),
        # The typical op of the mix: the median over ops of each op's
        # median latency (a pooled median of a few ops of very
        # different cost would jump between them from run to run).
        "op_p50_s": statistics.median(medians.values()) if medians else 0.0,
    }
    rss_mb = rss_kb / 1024.0
    tail = tail_percentile(samples)
    fail_frac = failed / attempted
    correct = not errors

    why, units = declared()

    # Temp-dir hygiene: what the engine left in its temp, spill and
    # warehouse dirs after the session stopped; all of it is removed now.
    os.chdir(ROOT)
    left_behind = tree_bytes(work) - tree_bytes(data) - tree_bytes(work / "lakes")
    shutil.rmtree(work, ignore_errors=True)
    artifact = {
        "workload": w.name, "why": why.get(w.name, "not declared in BENCHMARK.json"),
        "seed": args.seed, "master": master,
        "cpus": cpus, "traced": bool(args.trace), "seconds": args.seconds,
        "input": {"tables": sizes,
                  "rows": sum(s["rows"] for s in sizes.values()),
                  "bytes": sum(s["bytes"] for s in sizes.values()),
                  "pipeline_symbols": list(runner.symbols), "pipeline_periods": w.periods},
        "host_probe_s": probe_s, "gen_s": gen_s, "session_start_s": session_start_s,
        "teardown_s": stopped_at - t0 - window_s, "check_s": check_s,
        "process_s": time.perf_counter() - PROCESS_T0,
        "passes": passes, "window_s": window_s, "order": order,
        "pass_s": {"untraced": untraced, "traced": pass_s[True]},
        "latencies_s": lat, "op_median_s": medians,
        "end_to_end": e2e, "jvm_peak_rss_mb": rss_mb, "op_samples": len(samples),
        "op_tail": {"percentile": tail[0], "value_s": tail[1]} if tail else None,
        "fail_frac": fail_frac, "attempted": attempted, "failed": failed,
        "errors": errors, "bytes_left_behind": left_behind,
        "work_dir_removed": not work.exists(),
    }
    if args.trace:
        # Per traced pass: the time outside its phase spans (build,
        # execute, drain, pipeline stage), i.e. loop and span code.
        gaps = [p["end"] - p["start"] - sum(
                    c["end"] - c["start"] for c in tracer.spans
                    if c["kind"] not in ("pass", "op") and c["name"].startswith(f"{p['name']}/"))
                for p in tracer.spans if p["kind"] == "pass" and p["name"].startswith("pass")]
        pairs = [(by_pass[i], by_pass[i + 1]) if i % 4 == 1 else (by_pass[i + 1], by_pass[i])
                 for i in range(1, passes - 1, 2)]  # (traced, untraced), 0-based
        overhead = statistics.mean(t - u for t, u in pairs)
        gap = statistics.median(gaps)
        artifact.update(per_layer=layers, spans=tracer.spans, tracing_overhead_s=overhead,
                        overhead_pairs_s=[t - u for t, u in pairs], phase_gap_s=gap,
                        phases_account_for_wall=gap <= abs(overhead))
    path = artifact_path(results, stem)
    path.write_text(json.dumps(artifact, indent=1, default=str))

    print(f"workload {w.name} seed {args.seed} {master} input "
          f"{artifact['input']['rows']} rows / {artifact['input']['bytes']} bytes; "
          f"{passes} passes in {window_s:.2f} s; artifact {path.relative_to(ROOT)}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.4f} {units[k]}")
    print(f"  jvm_peak_rss_mb = {rss_mb:.1f} MB")
    print(f"  op samples = {len(samples)}")
    if tail:
        print(f"  op_tail_s = {tail[1]:.4f} s (p{tail[0]}, {len(samples)} samples)")
    else:
        print(f"  op_tail_s omitted: {len(samples)} samples cannot support a tail percentile")
    print(f"  fail_frac = {fail_frac:.4f} ratio ({failed}/{attempted})")
    print(f"  bytes left behind by the engine = {left_behind} (removed)")
    for op, e in sorted(errors.items()):
        print(f"  FAILED {op}: {e}")
    if args.trace:
        print(f"  tracing overhead (traced - untraced pass, mean of {len(pairs)} "
              f"adjacent pairs) = {overhead:.4f} s")
        print(f"  a traced pass outside its phase spans = {gap:.4f} s; phase self "
              f"times account for the pass within the overhead: {gap <= abs(overhead)}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    sys.stdout.flush()
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
