"""Crawl benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload wide_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs one operation to warm up, then one untraced and one
traced operation, and prints the per-layer metrics of the traced one with
the tracing overhead between the two.
Metric names and units come from BENCHMARK.json; workloads, metrics and
the traced run are described in perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # process start, the origin of setup_s

import argparse  # noqa: E402
import glob  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def _resources() -> tuple[int, str]:
    """Cores from the affinity mask (what nproc reports) and a JVM heap
    of a fifth of physical memory, capped at 2 GiB: the inputs are small,
    and a heap the JVM grows into fully keeps peak RSS steady across runs."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal"))
                       .split()[1])
    return cores, f"{min(2048, total_kb // 1024 // 5)}m"


def _environment(cores: int, heap: str) -> None:
    """Keep every file the run writes inside the work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["ZENO_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _start_spark(cores: int, aqe: bool):
    from zeno_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        "perfbench", cores=cores, shuffle_partitions=cores, aqe=aqe,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _generate(wl) -> float:
    """Build the workload's inputs in a child process, so the memory
    generation takes is never the benchmark's, then open them from the
    cache in this one.  Returns the seconds spent."""
    t = time.monotonic()
    child = multiprocessing.get_context("fork").Process(target=wl.generate)
    child.start()
    child.join()
    if child.exitcode != 0:
        raise RuntimeError(f"input generation failed (exit {child.exitcode})")
    wl.generate()
    return time.monotonic() - t


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process and every
    process it started: the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for ln in fh:
                    if ln.startswith("VmHWM:"):
                        total_kb += int(ln.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def reset_peak_rss() -> None:
    """Restart the VmHWM high-water marks of this process and every
    process it started at their current resident sizes."""
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _declared() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "zeno_spark")):
        print(f"perfbench: no zeno_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores, heap = _resources()
    _environment(cores, heap)
    sys.path.insert(0, HERE)
    from stats import check_names, describe
    from spans import Tracer
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    declared = _declared()
    wl = WORKLOADS[args.workload](WORK, args.seed)
    print(f"perfbench: {args.workload} seed={args.seed} cores={cores} "
          f"heap={heap} local[{cores}]", flush=True)

    for mod in wl.modules:
        importlib.import_module(mod)
    gen_s = _generate(wl)
    t = time.monotonic()
    spark = _start_spark(cores, wl.aqe)
    session_s = time.monotonic() - t
    samples: list[dict] = []
    metrics: dict[str, float] = {}
    try:
        wl.setup(spark)
        setup_s = time.monotonic() - T0 - gen_s

        def run_op() -> dict:
            s = wl.op()
            s["peak_rss_mb"] = peak_rss_mb()
            t = time.monotonic()
            s["problems"] = wl.check(s)
            s["check_s"] = time.monotonic() - t
            reset_peak_rss()  # the gate's memory is in no metric
            for p in s["problems"]:
                print(f"perfbench: CHECK FAILED: {p}", flush=True)
            samples.append(s)
            return s

        if args.trace == 0:
            spent = 0.0
            while not samples or spent < args.seconds:
                spent += run_op()["wall"]
            steps = [x for s in samples for x in wl.steps(s)]
            rates = [wl.items(s) / s["wall"] for s in samples]
            metrics = {
                "setup_s": setup_s,
                "items_per_s": statistics.median(rates),
                "step_s_p50": statistics.median(steps),
                "peak_rss_mb": max(s["peak_rss_mb"] for s in samples),
            }
            print(describe("step_s", steps, "s"))
            print(describe("items_per_s", rates, "1/s"))
        else:
            # the first operation pays the cold-JVM cost; compare the traced
            # operation with an untraced one that runs just as warm
            run_op()
            base = run_op()
            tr = Tracer()
            wl.install(tr)
            try:
                traced = run_op()
            finally:
                tr.uninstall()
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(wl.layers(tr, traced, base))
            metrics["session.start_s"] = session_s
            metrics["trace.overhead_share"] = (
                (traced["wall"] - base["wall"]) / base["wall"])
            spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
            tr.write(spans)
            print(f"spans: {len(tr.spans)} written to {spans}")
            print(f"traced wall {traced['wall']:.3f} s, untraced "
                  f"{base['wall']:.3f} s")
            print("| layer | self s | share of traced wall |")
            print("|---|---|---|")
            for layer, secs, share in tr.layer_shares(traced["wall"]):
                print(f"| {layer} | {secs:.3f} | {share:.1%} |")
    finally:
        t = time.monotonic()
        wl.close()
        _stop_spark(spark)
        stop_s = time.monotonic() - t
    for d in glob.glob(os.path.join(WORK, "warehouse-*")) + glob.glob(
            os.path.join(WORK, "warc-*")):
        shutil.rmtree(d, ignore_errors=True)

    expected = set(END_TO_END if args.trace == 0 else PER_LAYER)
    problems = check_names(set(metrics), set(declared))
    if set(metrics) != expected or problems:
        print(f"perfbench: metric set mismatch {problems}", file=sys.stderr)
        return 3
    failed = sum(1 for s in samples if s["problems"])
    print(f"phases: generation {gen_s:.2f} s (in no metric), session "
          f"{session_s:.2f} s, operations "
          f"{sum(s['wall'] for s in samples):.2f} s, checks "
          f"{sum(s['check_s'] for s in samples):.2f} s, teardown {stop_s:.2f} s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": declared[k]["unit"]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
