"""Benchmark for doc2dataset_spark: ETL throughput, batch curation and
index serving, with every operation's output checked.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. Each workload is a closed loop with one
client: an operation starts when the previous one has completed and been
checked. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
the traced variant and prints the per-layer metrics, writing every span to
``.bench_build/perfbench/trace/``. ``--workload all`` runs every workload
untraced and traced in child processes and prints both, with the tracing
overhead. The last line of standard output is one JSON object; the exit
code is nonzero when any output check failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("etl", "curate_serve")


def declared_metrics() -> tuple[dict, dict]:
    """(end_to_end, per_layer) name → unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


@dataclass
class Context:
    seed: int
    cache: Path
    work: Path
    corpus: Path | None = None


def pin_environment(trace_dir: Path | None, work: Path) -> None:
    """Everything the program reads from the environment, set before the
    first import of doc2dataset_spark (the session module reads
    SPARK_GRAFT_CPUS at import)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / (1024 * 1024)
    driver_gb = max(1, min(2, int(mem_gb // 6)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={work / 'spark-local'}",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace_dir is not None:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{trace_dir}",
            "spark.eventLog.compress=false",
        ]
    python_path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        # Python workers import the package from the checkout, whatever the cwd
        "PYTHONPATH": str(ROOT) + (os.pathsep + python_path if python_path else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_CONF": ";".join(conf),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def load_workload(name: str, ctx: Context):
    import corpus

    if name == "etl":
        import etl

        return etl.Workload(ctx)
    import curate_serve

    ctx.corpus = corpus.ensure_corpus(ctx.cache)
    return curate_serve.Workload(ctx)


def attempt(wl, op, *args) -> tuple[float, bool]:
    """One operation; one that raises counts as attempted and failed."""
    t0 = time.perf_counter()
    try:
        return op(*args)
    except Exception:  # noqa: BLE001 — the loop must record it and go on
        traceback.print_exc()
        wl.problems.append(f"operation {args[0]} raised; traceback on stderr")
        return time.perf_counter() - t0, False


def run_workload(args) -> int:
    from tracing import HostStamp, RssSampler, Tracer, median, spark_counters

    end_to_end, per_layer = declared_metrics()
    work = BUILD / "run" / f"{args.workload}-{os.getpid()}"
    trace_dir = BUILD / "trace" / f"{args.workload}-seed{args.seed}-eventlog" if args.trace else None
    if trace_dir is not None:
        shutil.rmtree(trace_dir, ignore_errors=True)
        trace_dir.mkdir(parents=True)
    pin_environment(trace_dir, work)
    sys.path.insert(0, str(ROOT))
    ctx = Context(seed=args.seed, cache=BUILD / "cache", work=work)
    tracer = Tracer()
    plain, traced = [], []
    try:
        wl = load_workload(args.workload, ctx)
        with HostStamp() as host, RssSampler() as rss, wl:
            t0 = time.perf_counter()
            from doc2dataset_spark.session import get_spark

            spark = get_spark(app_name="perfbench")
            session_s = time.perf_counter() - t0
            try:
                sc = spark.sparkContext
                sc.setLocalProperty("perfbench.op", "setup")
                wl.setup(spark)
                setup_s = time.perf_counter() - t0
                # trace runs split the budget between plain operations (the
                # overhead baseline and the Spark counters) and traced ones,
                # alternating so that JVM warm-up favours neither
                budget = args.seconds / 2 if args.trace else args.seconds

                def due(ops) -> bool:
                    return not ops or sum(t for t, _ in ops) < budget

                while due(plain) or (args.trace and due(traced)):
                    if due(plain):
                        sc.setLocalProperty("perfbench.op", f"plain:{len(plain)}")
                        plain.append(attempt(wl, wl.op, len(plain)))
                    if args.trace and due(traced):
                        sc.setLocalProperty("perfbench.op", f"traced:{len(traced)}")
                        traced.append(attempt(wl, wl.traced_op, len(traced), tracer))
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    times = [t for t, _ in plain]
    attempted = len(plain) + len(traced)
    failed = sum(not ok for _, ok in plain + traced)
    if args.trace:
        from tracing import read_event_log

        log = read_event_log(trace_dir)
        counters, by_module = spark_counters(log, {f"plain:{i}" for i in range(len(plain))})
        for jid, job in log["jobs"].items():
            tracer.add("spark.job", job["start"], job["end"] or job["start"],
                       job=jid, op=job["op"], call_site=job["call_site"])
        metrics = {
            "session.start_s": session_s,
            **wl.layer_metrics(tracer),
            **counters,
            "trace.op_s": median(t for t, _ in traced),
            "trace.overhead": median(t for t, _ in traced) / median(times) - 1.0,
        }
        tracer.write(BUILD / "trace" / f"{args.workload}-seed{args.seed}.json",
                     {"workload": args.workload, "seed": args.seed,
                      "jobs_by_module": by_module, "host": host.as_dict(),
                      "metrics": metrics})
        shutil.rmtree(trace_dir, ignore_errors=True)
        # a layer this workload never reaches spent no time and did no work
        metrics = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                   for k, u in per_layer.items()}
    else:
        values = {
            "setup_s": setup_s,
            "op_s_p50": median(times),
            # from the median, like op_s_p50, so one slow operation does not move it
            "items_per_s": wl.items / median(times),
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}

    report_human(args, wl, times, attempted, failed, host.as_dict(), metrics)
    correct = failed == 0 and not wl.problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def report_human(args, wl, times, attempted, failed, host, metrics) -> None:
    """Readable lines before the JSON: the workload's own metric names,
    error rate, sample count, host stamp and any failed check."""
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(times)} attempted={attempted}")
    print(f"# host {json.dumps(host)}")
    print(f"# op_times_s {json.dumps([round(t, 4) for t in times])}")
    if not args.trace:
        for name, (value, unit) in wl.own_metrics().items():
            print(f"# {name} = {value:.6g} {unit}")
    print(f"# error_rate = {failed / max(attempted, 1):.4f} ratio")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    for p in wl.problems[:20]:
        print(f"# CHECK FAILED {p}")


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    merged, attempted, failed, correct = {}, 0, 0, True
    for name in WORKLOADS:
        plain = None
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(f"[{name} trace={trace}] {line}")
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"[{name} trace={trace}] no result; stderr tail:\n{proc.stderr[-2000:]}")
                correct = False
                continue
            correct &= res["correct"] and proc.returncode == 0
            attempted += res["attempted"]
            failed += res["failed"]
            for k, v in res["metrics"].items():
                merged[f"{name}.{k}"] = v
            if trace == 0:
                plain = res["metrics"]["op_s_p50"]["value"]
            elif plain:
                merged[f"{name}.trace.overhead_vs_untraced_run"] = {
                    "value": res["metrics"]["trace.op_s"]["value"] / plain - 1.0,
                    "unit": "ratio"}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": merged}))
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "doc2dataset_spark" / "__init__.py").is_file():
        print(f"perfbench: no doc2dataset_spark package in {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
