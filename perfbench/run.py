"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mdf_service --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One process: seeded inputs are
written under a private run directory (deleted at exit), a local Spark
session is built, the workload is set up and warmed, and one
closed-loop client runs operations until ``--seconds`` have passed,
checking every result. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

The traced run alternates traced and untraced operations (tracing
overhead = traced median - untraced median), writes its spans and
per-layer table to ``perfbench-out/``, then restarts the session at
``local[1]``, warms it with one cycle and times one more cycle for
``spark.core_scaling``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4

E2E = ("setup_s", "heap_live_mb", "op_p50_s", "op2_p50_s", "store_bytes_per_doc")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def isolate(run_dir: str) -> None:
    """Point every temp and scratch location of this process, the JVM
    and the Python workers into the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_FIXTURE_CACHE_DIR"] = os.path.join(run_dir, "fixtures")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def build_session(run_dir: str, master: str, traced: bool):
    from connect_server_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={run_dir}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:  # the traced run reads every job of its window back
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Driver Python plus driver JVM high-water RSS (from /proc)."""
    return hwm_mb("self") + hwm_mb(spark.sparkContext._gateway.proc.pid)


def heap_live_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the
    program retains (caches, plans, status), independent of how far
    the collector let the heap grow. It can only overstate the live
    set (state a cleaner has not released yet), so callers take the
    least of several readings."""
    jvm = spark.sparkContext._jvm
    # release the JVM objects only dead Python frames still reference,
    # then collect until the figure stops falling (the context cleaner
    # frees checkpoint, shuffle and broadcast state between passes)
    gc.collect()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(5):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) > 1 and readings[-1] > readings[-2] * 0.99:
            break
    return min(readings)


def log(msg: str) -> None:
    print(f"perfbench {time.time() - PROCESS_START:7.2f} {msg}", file=sys.stderr, flush=True)


class Loop:
    """Closed-loop client: runs one operation at a time and checks it."""

    def __init__(self, workload):
        self.w = workload
        self.samples: list[tuple[str, float, bool, str | None]] = []  # kind, seconds, traced, tag
        self.attempted = 0
        self.errors: list[str] = []

    def run_op(self, kind, op, tracer=None, record=True) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                tracer.install()
                with tracer.root(f"bench.{kind}"):
                    result = op()
                tracer.uninstall()
            else:
                result = op()
        except Exception:  # one failed operation must not end the run
            if tracer is not None:
                tracer.uninstall()
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        err = self.w.check(kind, result)
        if err:
            self.errors.append(f"{kind}: {err}")
        elif record:
            self.samples.append((kind, dt, tracer is not None, self.w.tag(kind, result)))
        return dt

    def covered(self, kinds, traced: bool) -> bool:
        """Every kind run so far has an untraced sample (and, in the
        traced run, a traced one)."""
        return all(
            self.times(k) and (not traced or self.times(k, True)) for k in kinds
        )

    def times(self, kind=None, traced=False, tag=None) -> list[float]:
        return [
            t
            for k, t, tr, tg in self.samples
            if (kind is None or k == kind) and tr == traced and (tag is None or tg == tag)
        ]


def cycles(ops, secondary: str):
    """Group an operation stream into cycles, each ending with a
    ``secondary`` operation."""
    cycle = []
    for kind, op in ops:
        cycle.append((kind, op))
        if kind == secondary:
            yield cycle
            cycle = []


def run(args, run_dir: str) -> dict:
    sys.path[:0] = [HERE, ROOT]
    import workloads

    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    t_in = time.time()
    w = cls(None, run_dir, args.seed)
    w.prepare_inputs()
    input_s = time.time() - t_in

    master = f"local[{cores()}]"
    t_build = time.time()
    spark = build_session(run_dir, master, bool(args.trace))
    session_build_s = time.time() - t_build
    w.spark = spark
    loop = Loop(w)
    ops = w.ops()
    log(f"inputs {input_s:.2f}s, session {session_build_s:.2f}s")
    w.setup()
    log("fixtures built")
    # warm-up: JIT, first plans and Python workers are paid here. A
    # fixed number of operations per kind, so set-up time is program
    # work only; operations of a kind that is already warm are skipped,
    # and the warm-up ends with a whole cycle.
    warmed = dict.fromkeys(w.warmup, 0)
    for kind, op in ops:
        if warmed[kind] < w.warmup[kind]:
            log(f"warm-up {kind} {loop.run_op(kind, op, record=False):.2f}s")
            warmed[kind] += 1
        if kind == w.secondary and all(warmed[k] >= n for k, n in w.warmup.items()):
            break
    setup_s = time.time() - PROCESS_START - input_s

    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(spark)
    deadline = time.perf_counter() + args.seconds
    seen: dict[str, int] = {}
    heap = []  # live heap at each cycle end
    for kind, op in ops:
        # alternate traced and untraced operations of each kind
        traced = tracer is not None and seen.get(kind, 0) % 2 == 0
        seen[kind] = seen.get(kind, 0) + 1
        dt = loop.run_op(kind, op, tracer if traced else None)
        log(f"{kind} {dt:.3f}s{' traced' if traced else ''}")
        if kind == w.secondary:
            heap.append(heap_live_mb(spark))
            log(f"heap live {heap[-1]:.1f} MB")
        # stop at the end of a cycle; a failed operation already decides
        # the run, so do not wait for samples it may never produce
        if time.perf_counter() >= deadline and (
            loop.errors
            or (kind == w.secondary and loop.covered((w.primary, w.secondary), tracer is not None))
        ):
            break
    for err in w.final_check():
        loop.errors.append(f"final: {err}")
        loop.attempted += 1
    out = {
        "loop": loop,
        "setup_s": setup_s,
        "session_build_s": session_build_s,
        "peak_rss_mb": peak_rss_mb(spark),
        "heap_live_mb": min(heap + [heap_live_mb(spark)]),
        "heap_samples": len(heap) + 1,
        "store_bytes_per_doc": w.store_bytes_per_doc(),
        "workload": w,
        "master": master,
    }
    if tracer is not None and not loop.errors:
        out["trace"] = tracer.harvest()
        out["spans"] = tracer.spans
        out["core_scaling"] = single_core_ratio(w, loop, run_dir, ops)
    return out


def single_core_ratio(w, loop, run_dir: str, ops) -> float:
    """One warm cycle at ``local[1]`` over the same cycle at
    ``local[N]``, the latter priced from the untraced medians of its
    operation kinds. The first ``local[1]`` cycle is an untimed
    warm-up, so the ratio holds no session start-up cost."""
    from connect_server_spark.session import stop_spark

    stop_spark()
    w.rebind(build_session(run_dir, "local[1]", traced=False))
    stream = cycles(ops, w.secondary)
    for kind, op in next(stream):
        loop.run_op(kind, op, record=False)
    one = many = 0.0
    for kind, op in next(stream):
        one += loop.run_op(kind, op, record=False)
        many += statistics.median(loop.times(kind))
    log(f"local[1] cycle {one:.2f}s, local[N] cycle {many:.2f}s")
    return one / many


def report(args, out: dict) -> dict:
    loop, w = out["loop"], out["workload"]
    primary = loop.times(w.primary)
    secondary = loop.times(w.secondary)
    failed = len(loop.errors)
    correct = failed == 0 and bool(primary) and bool(secondary)
    rows = []  # (name, value, unit, samples)
    if primary and secondary:
        rows += [
            ("setup_s", out["setup_s"], "s", 1),
            ("heap_live_mb", out["heap_live_mb"], "MB", out["heap_samples"]),
            ("peak_rss_mb", out["peak_rss_mb"], "MB", 1),
            ("op_p50_s", statistics.median(primary), "s", len(primary)),
            ("op2_p50_s", statistics.median(secondary), "s", len(secondary)),
            ("store_bytes_per_doc", out["store_bytes_per_doc"], "B", 1),
        ]
        rows += w.named_metrics(loop)
    rows.append(("error_rate", failed / max(loop.attempted, 1), "ratio", loop.attempted))
    metrics = {n: {"value": v, "unit": u} for n, v, u, _s in rows if n in E2E}
    if args.trace and "trace" in out:
        tr = out["trace"]
        m = dict(tr["metrics"])
        m["spark.core_scaling"] = out["core_scaling"]
        m["session.build_s"] = out["session_build_s"]
        traced = loop.times(w.primary, True)
        untraced = loop.times(w.primary, False)
        m["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        rows = [(k, v, unit_of(k), tr["ops"]) for k, v in sorted(m.items())]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}
        write_side_file(args, out, m)
    declared = declared_metrics(args.trace)
    reported = {k: v["unit"] for k, v in metrics.items()}
    if declared is not None and reported != declared:
        diff = sorted(set(reported.items()) ^ set(declared.items()))
        loop.errors.append(f"metrics differ from BENCHMARK.json: {diff}")
        correct = False
    print(f"# perfbench {args.workload} seed={args.seed} master={out['master']} trace={args.trace}")
    print(f"# {'metric':<28} {'value':>14} {'unit':<6} samples")
    for n, v, u, s in rows:
        print(f"# {n:<28} {v:>14.6g} {u:<6} {s}")
    for err in loop.errors:
        print("# FAILED " + err.replace("\n", "\n#   "))
    return {"correct": correct, "attempted": loop.attempted, "failed": failed, "metrics": metrics}


def declared_metrics(trace: int) -> dict | None:
    """Metric name -> unit that BENCHMARK.json declares for this mode."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except FileNotFoundError:
        return None
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def unit_of(name: str) -> str:
    if name.endswith("_bytes") or name.endswith("bytes_written") or name.endswith("bytes_sent"):
        return "B"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name == "spark.core_scaling":
        return "ratio"
    return "count"


def write_side_file(args, out: dict, metrics: dict) -> None:
    side = os.path.join(ROOT, "perfbench-out")
    os.makedirs(side, exist_ok=True)
    path = os.path.join(side, f"trace-{args.workload}-seed{args.seed}.json")
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "per_op": "metrics and layer rows are means per traced operation",
        "metrics": metrics,
        "layers": out["trace"]["layers"],
        "spans": [
            [s.id, s.parent, s.name, round(s.start, 6), round(s.end, 6), s.jobs]
            for s in out["spans"]
        ],
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    print(f"# trace side file: {os.path.relpath(path, ROOT)}")


def shutdown_jvm() -> None:
    """Stop the session, then end the driver JVM and wait for it."""
    from pyspark import SparkContext

    from connect_server_spark.session import stop_spark

    gateway = SparkContext._gateway
    stop_spark()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "connect_server_spark")):
        print("perfbench: run from a source checkout (connect_server_spark/ not found)", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench-run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    # a terminated run still removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    isolate(run_dir)
    try:
        out = run(args, run_dir)
        result = report(args, out)
    finally:
        try:
            if "pyspark" in sys.modules:
                shutdown_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
