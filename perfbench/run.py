"""Feature-store benchmark: one command, two workloads, seeded inputs.

    python3 perfbench/run.py --workload training_set --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It generates the workload's inputs
from ``--seed`` (outside every timed region), sets the workload up
``SETUP_REPS`` times (each a fresh Spark context and store), runs one
untimed warm-up step on the last set-up, then runs steps in a closed loop
with one client for ``--seconds`` and checks every result.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of ``perfbench/LAYERS.md`` with ``--trace 1``.  A traced run
writes its spans to standard error as JSON lines at exit.

Everything the run writes goes under ``.perfbench_tmp/`` in the checkout
and is removed at exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3
#: the driver JVM heap, fixed and touched at start so the JVM's resident
#: size does not depend on when the collector chose to grow the heap
DRIVER_MEMORY = "2g"
#: the JIT compiles with C1 only: with the optimising compiler, late
#: recompiles kept retrievals getting faster for dozens of ops, so runs of
#: one seed differed by 15-30%; with C1 alone the JVM is steady after the
#: warm-up step
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"

END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict:
    """name -> unit of every per-layer metric, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """The one Spark driver of a run: ``local[<cpus>]``, all scratch under
    ``tmp``.  ``restart`` stops the context and builds a new one in the
    same JVM; ``close`` stops the JVM and waits for it to exit."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.spark = None

    def restart(self):
        from my_feast_spark import get_session

        if self.spark is not None:
            self.spark.stop()
        n = _cpus()
        self.spark = get_session(
            app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_confs={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} {JVM_OPTIONS}",
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        # the JVM exits on EOF of its stdin
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None


def run(args) -> dict:
    from perfbench.collect import Tracer
    from perfbench.workloads import WORKLOADS

    tmp = args.tmp
    t = time.perf_counter()
    inputs = gen.GENERATORS[args.workload](os.path.join(tmp, "inputs"), args.seed)
    gen_s = time.perf_counter() - t
    wl = WORKLOADS[args.workload](inputs, os.path.join(tmp, "work"), args.seed)
    session = Session(tmp)
    try:
        return _measure(args, wl, session, Tracer, gen_s)
    finally:
        session.close()


def _measure(args, wl, session, Tracer, gen_s) -> dict:
    tracer = Tracer(bool(args.trace))
    setups, starts, setup_layers = [], [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = session.restart()
        starts.append(time.perf_counter() - t0)
        tracer.attach(spark)
        setup_layers.append(wl.setup(spark, tracer))
        setups.append(time.perf_counter() - t0)
    # one untimed step on the last set-up, so the timed loop starts warm
    warm_ok = all([o.ok for o in wl.step(tracer)])

    ops = []
    collect0 = tracer.collect_s
    t0 = time.perf_counter()
    # closed loop, one client: a step started before the deadline completes
    while time.perf_counter() - t0 < args.seconds:
        tracer.op += 1
        ops.extend(wl.step(tracer))
    wall = time.perf_counter() - t0

    primary = [o for o in ops if o.kind == wl.primary]
    failed = sum(not o.ok for o in ops) + (not warm_ok)
    op_p50_ms = statistics.median(o.seconds for o in primary) * 1e3
    items_per_s = sum(o.items for o in primary) / wall
    rss_jvm, rss_py = _vm_hwm_mb(session.jvm_pid), _vm_hwm_mb(os.getpid())
    rss = rss_jvm + rss_py
    sys.stderr.write(json.dumps({
        "workload": args.workload, "seed": args.seed, "inputs": wl.inp.sizes,
        "gen_s": round(gen_s, 3), "rss_jvm_mb": rss_jvm, "rss_py_mb": rss_py,
        "setups_s": [round(s, 3) for s in setups],
        "ops": len(primary), "op_ms": [round(o.seconds * 1e3, 1) for o in primary],
    }) + "\n")
    result = {"correct": failed == 0, "attempted": len(ops) + 1,
              "failed": failed, "metrics": {}}
    if not args.trace:
        m = {"setup_s": statistics.median(setups), "op_p50_ms": op_p50_ms,
             "items_per_s": items_per_s, "peak_rss_mb": rss}
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}
        return result

    tracer.dump(sys.stderr)
    units = per_layer_units()
    values: dict = {k: [] for k in units}
    for info in setup_layers:
        for k, v in info.items():
            values[k].append(v)
    values["session.start_s"] = starts
    for o in ops:
        for k, v in o.layers.items():
            values[k].append(v)
    lookups = [o.seconds * 1e3 for o in ops if o.kind == "lookup"]
    if len(lookups) >= 2:
        values["core.store.lookup_p90_ms"] = [statistics.quantiles(lookups, n=10)[-1]]
    values["trace.op_p50_ms"] = [op_p50_ms]
    values["trace.items_per_s"] = [items_per_s]
    values["trace.collect_ms"] = [(tracer.collect_s - collect0) / len(primary) * 1e3]
    result["metrics"] = {
        k: {"value": float(statistics.median(v)) if v else 0.0, "unit": units[k]}
        for k, v in values.items()
    }
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import my_feast_spark  # noqa: F401  the engine must be in the checkout
    except ImportError as exc:
        sys.stderr.write(f"perfbench: cannot import the engine: {exc}\n")
        return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    args.tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    # Spark, py4j and the Python workers all take scratch space from here
    os.environ["TMPDIR"] = args.tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(args.tmp, "spark-local")
    tempfile.tempdir = args.tmp
    try:
        result = run(args)
    finally:
        shutil.rmtree(args.tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
