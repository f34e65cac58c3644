"""Benchmark harness: one seeded workload per invocation.

    python3 perfbench/run.py --workload extract_curate --seed 1 --seconds 6 --trace 0

Run from the repository root. Set-up writes the seeded inputs under
``.perfbench_work/``, starts a local Spark session with one task
thread per available core, does the workload's set-up work and runs
``WARMUP_PASSES`` untimed warm-up passes. Then a fixed number of timed
passes runs: ``--seconds`` divided by the workload's nominal pass
time, rounded up, at least ``MIN_PASSES``. The count depends only on the arguments, not
on how fast the passes run, so every run times the same work. Every
pass is checked per document against the registry's DuckDB oracle.
See METRICS.md for what each metric means.

With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` one extra traced pass follows the timed
ones and the line carries the per-layer metrics instead (spans are
written to ``.perfbench_work/traces/``). A line before it, ``{"info":
...}``, records load average, pass times, ``fail_frac`` and the
workload-specific figures (stored bytes per document, read latency).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 1
# After one pass the JIT is still compiling the pass's code paths: the
# extract stage of eight passes took 10.9, 6.5, 4.7, 4.5, ... 4.3 s on
# a 4-core machine, so the second pass is still on the slope.
WARMUP_PASSES = 2

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_s_per_doc": "s",
    "stored_bytes_per_doc": "B",
    "setup_s": "s",
}


class Context:
    def __init__(self, args, work: str, passes: int):
        self.root = ROOT
        self.seed = args.seed
        # passes 0 .. warmup-1 warm up, the next ``passes`` are timed and
        # the one after them is the traced pass
        self.warmup = WARMUP_PASSES
        self.passes = passes
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = None
        self.queries = {}
        self.oracle_sql = {}

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _env(work: str, cores: int) -> dict:
    """Keep every file Spark, Python and DuckDB write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work}",
    }


def _stop_spark(spark, root_pid: int) -> None:
    """Stop the session, then the JVM, then wait until every process
    this run started has exited."""
    import meters
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        rest = [p for p in meters.process_tree(root_pid) if p != root_pid]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            with contextlib.suppress(ChildProcessError):
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _jvm_pid(root_pid: int) -> int:
    import meters

    return next(p for p, (comm, _, _) in meters.process_tree(root_pid).items()
                if comm == "java")


def main(argv=None) -> int:
    args = _parse(argv)
    for need in ("pero_ocr_spark/__init__.py", "jobs/extract_job.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    import meters
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl_cls = WORKLOADS[args.workload]
    ctx = Context(args, work,
                  max(MIN_PASSES, math.ceil(args.seconds / wl_cls.nominal_pass_s)))
    conf = _env(work, ctx.cores)
    pid = os.getpid()
    load_start = meters.loadavg()
    ticks_start = meters.cpu_ticks()
    rss = meters.RssSampler(pid).start()
    wl = wl_cls(ctx)
    spark = None
    try:
        # ---- set-up: inputs, session, warm-up passes (untimed) --------
        t_gen = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t_gen
        from pero_ocr_spark import queries as registry
        from pero_ocr_spark.session import get_spark

        ctx.queries, ctx.oracle_sql = registry.queries(), registry.oracle_sql()
        t_session = time.perf_counter()
        spark = get_spark(app_name=f"perfbench_{args.workload}",
                          cores=ctx.cores, extra_conf=conf)
        session_s = time.perf_counter() - t_session
        spark.sparkContext.setLogLevel("ERROR")
        jvm = _jvm_pid(pid)
        t_prepare = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t_prepare
        attempted = failed = 0

        cpu_split: list[dict[str, float]] = []

        def run_checked(i: int) -> tuple[float, float, int]:
            """One pass: (wall s, JVM-tree cpu s, failed docs)."""
            nonlocal attempted, failed
            ids = wl.pass_ids(i)
            s0 = meters.jvm_cpu_split(jvm)
            w0 = time.perf_counter()
            try:
                out = wl.run_pass(i)
                err = None
            except Exception as e:  # a pass that raised fails all its docs
                out, err = None, e
            wall = time.perf_counter() - w0
            split = {k: v - s0[k] for k, v in meters.jvm_cpu_split(jvm).items()}
            cpu_split.append(split)
            cpu = sum(split.values())
            if err is None:
                try:
                    bad = len(wl.check(i, out) & ids)
                except Exception as e:
                    err, bad = e, len(ids)
            else:
                bad = len(ids)
            if err is not None:
                print(f"perfbench: pass {i} failed: {err!r}", file=sys.stderr)
            attempted += len(ids)
            failed += bad
            return wall, cpu, bad

        def reads(**kw) -> None:
            nonlocal attempted, failed
            n, bad = wl.reads(**kw)
            attempted += n
            failed += bad

        warm = [run_checked(i)[0] for i in range(ctx.warmup)]
        reads(warm=True)
        setup_s = time.perf_counter() - T_START

        # ---- timed passes ---------------------------------------------
        passes = []
        t_measure = time.perf_counter()
        for i in range(ctx.warmup, ctx.warmup + ctx.passes):
            passes.append(run_checked(i))
            reads()
        i = ctx.warmup + ctx.passes
        measure_s = time.perf_counter() - t_measure

        docs = wl.docs_per_pass * len(passes)
        walls = [p[0] for p in passes]
        metrics = {
            "docs_per_s": docs / sum(walls),
            "cpu_s_per_doc": sum(p[1] for p in passes) / docs,
            "setup_s": setup_s,
        }
        info = {
            "workload": args.workload, "seed": args.seed, "cores": ctx.cores,
            "docs_per_pass": wl.docs_per_pass, "passes": len(passes),
            "pass_wall_s": walls, "pass_cpu_s": [p[1] for p in passes],
            "pass_cpu_split_s": cpu_split,
            "setup_phases_s": {"generate": generate_s, "session": session_s,
                               "prepare": prepare_s, "warmup": warm},
            "measure_s": measure_s,
        }

        # ---- traced pass ----------------------------------------------
        if args.trace:
            import layers

            tracer = layers.Tracer(spark, ctx.cores)
            ctx.tracer = tracer
            session = layers.Span(0, "session", None, t_session,
                                  t_session + session_s, {"start_s": session_s})
            with tracer.patched():
                with tracer.span("pass") as root:
                    traced_s = run_checked(i)[0]
                reads(tracer=tracer, parent=root.sid)
            spans = [session] + [s for s in tracer.spans if s.start >= root.start]
            layer = tracer.layer_metrics(spans)
            layer[layers.OVERHEAD] = traced_s - statistics.median(walls)
            wl.layer_metrics(layer)
            tracer.release()
            info.update(traced_pass_s=traced_s,
                        untraced_median_pass_s=statistics.median(walls))
            trace_path = os.path.join(base, "traces",
                                      f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path, {"workload": args.workload,
                                     "seed": args.seed, "metrics": layer})
            info["trace_file"] = os.path.relpath(trace_path, ROOT)
            units = layers.metric_units()
            out_metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
        wl.finish()
        info.update(wl.info)
    finally:
        if spark is not None:
            _stop_spark(spark, pid)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    metrics["stored_bytes_per_doc"] = info["stored_bytes_per_doc"]
    info["peak_rss_mb"] = {"value": rss.peak_mb(), "unit": "MB"}
    info["loadavg_start"] = load_start
    info["loadavg_end"] = meters.loadavg()
    steal, total = (b - a for a, b in zip(ticks_start, meters.cpu_ticks()))
    info["steal_frac"] = steal / total if total else 0.0
    info["fail_frac"] = {"value": failed / attempted, "unit": "ratio"}
    if not args.trace:
        out_metrics = {k: {"value": metrics[k], "unit": u}
                       for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
