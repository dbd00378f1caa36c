"""Benchmark entry point: one workload, one seed, one fresh local[4] JVM.

    python3 perfbench/run.py --workload clean_pass --seed 1 --seconds 15 --trace 0

Builds the workload's inputs from the seed, times passes for ``--seconds``,
checks every pass's outputs, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A
human-readable table (with sample counts and failed_frac) goes to stderr.
``--record FILE`` appends the full result, with per-pass samples, as one
JSON line for ``perfbench/diff.py``.  Exits 1 when an output check fails and
2 when the program under test is missing.  Everything it writes lives under
``.bench_build/perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per-pass values kept in a --record line
SAMPLE_KEYS = ("legs", "main_s", "docs", "verdict_s", "scaling_eff", "verdicts", "serial_verdicts")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["clean_pass", "dirty_resume"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record", help="append the full result as one JSON line to this file")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep the JVM, Spark and Python workers inside ``work`` and give the
    workers the program and the benchmark's own modules on PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, rss) -> None:
    """Stop the SparkContext, end the JVM, and wait for every process the
    run started (the JVM's Python workers outlive it briefly)."""
    from pyspark import SparkContext

    started = rss.tree() - {os.getpid()}
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while any(_alive(p) for p in started):
        if time.time() > deadline:
            for p in started:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            deadline = time.time() + 20
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "schemasaurus_spark", "__init__.py")):
        print(f"perfbench: program package schemasaurus_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from harness import RssSampler, Tracer, counter_self_check
    from schemasaurus_spark.session import get_spark
    from workloads import LAYER_METRICS, WORKLOADS

    passes: list[dict] = []
    failures: list[str] = []
    counts = {"attempted": 0, "failed": 0}
    result: dict = {}

    def attempt(wl, what, fn):
        """One pass (or the final checks): an exception or a new failed
        check marks it failed."""
        counts["attempted"] += 1
        before = len(wl.failures)
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            wl.failures.append(f"{what} raised")
        finally:
            if len(wl.failures) > before:
                counts["failed"] += 1

    def timed_pass(wl):
        rec = wl.run_pass()
        wl.check_pass(rec)
        return rec

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            cpus=4,
            extra_conf={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # vectored parquet reads bypass the per-thread byte counter
                # behind the stages' inputBytes (it then reads ~1% of the
                # true bytes); the counter self-check enforces this
                "spark.hadoop.parquet.hadoop.vectored.io.enabled": "false",
            },
        )
        try:
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            tracer = Tracer(spark, enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
            failures = wl.failures

            t1 = time.perf_counter()
            wl.setup()
            build_s = time.perf_counter() - t1
            if args.trace:
                counter_self_check(spark, tracer, work)
            # warm-up pass: JIT, codegen and Python workers, and the
            # reference outputs every timed pass must reproduce
            t1 = time.perf_counter()
            ok = attempt(wl, "warm-up pass", lambda: timed_pass(wl)) is not None
            warm_s = time.perf_counter() - t1
            setup_s = session_s + build_s + warm_s

            t_measure = time.perf_counter()
            while ok and time.perf_counter() - t_measure < args.seconds:
                rec = attempt(wl, "timed pass", lambda: timed_pass(wl))
                ok = rec is not None
                if ok:
                    passes.append(rec)

            if args.trace and passes:
                tracer.enabled = False
                plain = attempt(wl, "untraced pass", wl.run_pass)
                tracer.enabled = True
                extras = wl.traced_extras()
                if plain is not None:
                    traced = median(p["main_s"] for p in passes)
                    extras["trace.overhead_share"] = (traced - plain["main_s"]) / plain["main_s"]

            t_check = time.perf_counter()
            attempt(wl, "final checks", lambda: wl.final_checks(passes))
            print(f"perfbench: session {session_s:.2f}s, inputs {build_s:.2f}s, warm-up pass {warm_s:.2f}s, "
                  f"measured {t_check - t_measure:.2f}s, checks {time.perf_counter() - t_check:.2f}s",
                  file=sys.stderr)
            if passes and args.trace:
                layer = wl.layers(passes)
                layer.update(extras)
                result = {k: (layer[k], LAYER_METRICS[k]) for k in LAYER_METRICS}
                tracer.dump(os.path.join(
                    os.path.dirname(work), f"trace-{args.workload}-seed{args.seed}.json"
                ))
            elif passes:
                e2e = wl.e2e(passes)
                result = {
                    "setup_s": (setup_s, "s"),
                    "docs_per_s": (e2e["docs_per_s"], "1/s"),
                    "verdict_docs_per_s": (e2e["verdict_docs_per_s"], "1/s"),
                }
        except Exception:
            traceback.print_exc()
            failures.append("benchmark set-up or metrics raised")
            counts["attempted"] = max(counts["attempted"], 1)
            counts["failed"] = max(counts["failed"], 1)
        finally:
            stop_spark(spark, rss)
    if result and not args.trace:
        result["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
        print("perfbench: peak RSS by process: " + ", ".join(
            f"{k} {v / 2**20:.0f} MB" for k, v in rss.peak_parts.items()), file=sys.stderr)

    for msg in failures:
        print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
    correct = bool(result) and not failures
    attempted, failed = counts["attempted"], counts["failed"]
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(passes)} attempted={attempted} failed={failed} "
          f"failed_frac={failed / max(attempted, 1):.3f}", file=sys.stderr)
    for k, (v, unit) in result.items():
        print(f"  {k:36s} {v:14.6g} {unit:8s} (n={len(passes)})", file=sys.stderr)

    out = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in result.items()},
    }
    if args.record:
        samples = [{k: p[k] for k in SAMPLE_KEYS if k in p} for p in passes]
        with open(args.record, "a") as f:
            f.write(json.dumps(dict(out, workload=args.workload, seed=args.seed, trace=args.trace,
                                    seconds=args.seconds, samples=samples)) + "\n")
    print(json.dumps(out))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
