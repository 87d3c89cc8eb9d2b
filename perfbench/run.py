#!/usr/bin/env python3
"""Seeded benchmark of thrill_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed, computes the DuckDB answers, sets up (launches the JVM and
the Spark session, scans every input and runs one warm-up pass; this
is setup_s), then runs closed-loop clients for S seconds and checks
every operation.

--trace 0 reports the end-to-end metrics. --trace 1 runs S/2 seconds
untraced and then S/2 traced, the clients continuing the same request
streams, and reports the per-layer metrics plus the tracing overhead
(the change in ops/s between the two halves).
A human-readable summary precedes the result, which is the last line:
one JSON object with correct, attempted, failed and metrics.

Everything the run writes lives under <checkout>/.perfbench_work and is
removed at exit, except the spans a traced run writes to
.perfbench_work/spans/. Every process it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SELF_SUM_TOLERANCE = 1e-3


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _pin_env(spec: dict, work: Path, nproc: int) -> None:
    """Environment for this process, the JVM and the Python workers
    (spec.json ``env`` and ``env_derived``). Must run before pyspark
    launches the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = str(tmp)
    # the heap starts at its maximum, so peak memory does not depend on
    # when the collector chose to grow it
    heap = spec["env"]["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = (
        f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    )
    pythonpath = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(tmp),
        "spark.executorEnv.PYTHONPATH": pythonpath,
        "spark.ui.showConsoleProgress": "false",
    }
    submit = ["--driver-java-options", java_opts]
    for k, v in confs.items():
        submit += ["--conf", f"{k}={v}"]
    os.environ.update(
        {
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": pythonpath,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
            # takes precedence over spark.local.dir when the caller's env has it
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            **spec["env"],
        }
    )


# ---------------------------------------------------------------------------
# process tree: peak memory and clean shutdown
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM summed over this process, the JVM and the Python workers."""
    pids = [os.getpid(), *_descendants(os.getpid())]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def _shutdown(spark) -> None:
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
def _window(wl, spark, tracer, seconds: float, streams: list):
    """Closed-loop clients for `seconds`: client i sends its next request
    from streams[i] when the previous one has completed, and stops at
    the deadline. The session-global caches are released only when no
    request is in flight (one client must never unpersist another's
    intermediates): after each operation of a single client, and once
    all clients have stopped. Outputs are checked after the window.
    Returns (OpLog, elapsed seconds, (start, end, request) per request)."""
    from perfbench.metrics import OpLog
    from thrill_spark import ordering

    log = OpLog()
    outputs: list = []

    def cleanup() -> None:
        ordering.release_persisted()
        spark.catalog.clearCache()

    def client(ci: int) -> None:
        tracer.client(f"client-{ci}")
        while time.perf_counter() < deadline:
            req = next(streams[ci])
            t0 = time.perf_counter()
            try:
                with tracer.op():
                    out = wl.run(spark, tracer, req)
                outputs.append((t0, time.perf_counter(), req, out, None))
            except Exception:
                outputs.append((t0, time.perf_counter(), req, None, traceback.format_exc()))
            if wl.clients == 1:
                cleanup()

    t0 = time.perf_counter()
    deadline = t0 + seconds
    with ThreadPoolExecutor(wl.clients) as pool:
        futures = [pool.submit(client, ci) for ci in range(wl.clients)]
        for f in futures:
            f.result()
    elapsed = time.perf_counter() - t0
    cleanup()
    # outputs are checked after the window, so checking costs no client time
    for start, end, req, out, failure in outputs:
        log.record(end - start, failure if failure is not None else _check(wl, req, out))
    return log, elapsed, [(start, end, req) for start, end, req, _, _ in outputs]


def _check(wl, req, out) -> str | None:
    try:
        return wl.check(req, out)
    except Exception:
        return traceback.format_exc()


def _warmup(wl, spark, tracer) -> tuple[float, list[str]]:
    """One pass over the warm-up requests, spread over the clients.
    Returns the seconds it took and the failures of its outputs, which
    are checked afterwards."""
    from thrill_spark import ordering

    reqs = wl.warmup_requests()

    def client(ci: int) -> list:
        tracer.client(f"warmup-{ci}")
        outs = []
        for req in reqs[ci :: wl.clients]:
            try:
                outs.append((req, wl.run(spark, tracer, req), None))
            except Exception:
                outs.append((req, None, traceback.format_exc()))
        return outs

    t0 = time.perf_counter()
    with ThreadPoolExecutor(wl.clients) as pool:
        futures = [pool.submit(client, ci) for ci in range(wl.clients)]
        done = [r for f in futures for r in f.result()]
    ordering.release_persisted()
    spark.catalog.clearCache()
    elapsed = time.perf_counter() - t0
    failures = [f if f is not None else _check(wl, req, out) for req, out, f in done]
    return elapsed, [f for f in failures if f]


def _drive(wl, args, nproc: int, phases: dict) -> tuple[dict, list[str]]:
    from perfbench import metrics as M
    from perfbench.tracing import Tracer, spark_counters
    from thrill_spark import catalog
    from thrill_spark.session import get_spark

    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    spark = None
    try:
        # set-up: launch the JVM and the session, scan every input once,
        # then one warm-up pass
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = get_spark("perfbench")
        tracer.bind(spark.sparkContext)
        tracer.client("setup")
        for name in wl.tables:
            with tracer.span("catalog"):
                df = catalog.load_table(spark, wl.data_dir, name)
            with tracer.span("action"):
                df.count()
        phases["session+scans"] = time.perf_counter() - t0
        tracer.enabled = False
        warm_s, warm = _warmup(wl, spark, tracer)
        phases["warm-up"] = warm_s
        res: dict = {"setup_s": phases["session+scans"] + warm_s}
        notes = [f"warm-up: {f}" for f in warm]

        t0 = time.perf_counter()
        # one request stream per client, continued by every window
        streams = [wl.requests(ci) for ci in range(wl.clients)]
        if args.trace:
            plain, plain_s, plain_ev = _window(wl, spark, tracer, args.seconds / 2, streams)
            tracer.enabled = True
            tracer.spans = [s for s in tracer.spans if s.name == "session"]
            traced, traced_s, traced_ev = _window(wl, spark, tracer, args.seconds / 2, streams)
            tracer.enabled = False
            span_jobs, stages = spark_counters(spark.sparkContext, tracer.spans)
            spans_file = ROOT / ".perfbench_work" / "spans" / (
                f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
            )
            _write_spans(spans_file, tracer.spans, span_jobs)
            n_ops = traced.attempted
            per_layer = M.layer_metrics(tracer.spans, span_jobs, stages, n_ops)
            per_layer.update(M.spark_metrics(tracer.spans, span_jobs, stages, traced_s, nproc))
            ordering_calls = per_layer["ordering.calls"]
            per_layer["ordering.jobs_per_call"] = (
                per_layer["ordering.jobs"] / ordering_calls if ordering_calls else 0.0
            )
            ratios, probe_failures = wl.probe(spark)
            per_layer.update(ratios)
            notes += [f"probe: {f}" for f in probe_failures]
            plain_rate = (plain.attempted - plain.failed) / plain_s
            traced_rate = (traced.attempted - traced.failed) / traced_s
            per_layer["trace.overhead"] = 1.0 - traced_rate / plain_rate if plain_rate else 0.0
            res.update(
                logs=[plain, traced],
                events=plain_ev + traced_ev,
                per_layer=per_layer,
                self_sum_error=M.self_sum_error(tracer.spans),
                spans=len(tracer.spans),
                spans_file=spans_file.relative_to(ROOT),
            )
        else:
            log, elapsed, events = _window(wl, spark, tracer, args.seconds, streams)
            res.update(logs=[log], elapsed=elapsed, events=events)
        res["peak_rss_mb"] = peak_rss_mb()
        phases["window"] = time.perf_counter() - t0
        return res, notes
    finally:
        t0 = time.perf_counter()
        _shutdown(spark)
        phases["shutdown"] = time.perf_counter() - t0


def _report(wl, args, res: dict, notes: list[str], phases: dict) -> dict:
    from perfbench import metrics as M

    # BENCHMARK.json declares the metric names and units of each mode
    declared = {
        m["name"]: m["unit"]
        for m in json.loads((ROOT / "BENCHMARK.json").read_text())[
            "per_layer" if args.trace else "end_to_end"
        ]
    }
    logs = res["logs"]
    attempted = sum(lg.attempted for lg in logs)
    failed = sum(lg.failed for lg in logs)
    failures = [f for lg in logs for f in lg.failures]
    correct = failed == 0 and not notes and attempted > 0
    lines = [f"perfbench {args.workload} seed={args.seed} trace={args.trace}"]
    if args.trace:
        err = res["self_sum_error"]
        if err > SELF_SUM_TOLERANCE:
            correct = False
            notes.append(f"sum of L.self_s differs from operation wall time by {err:.2%}")
        lines.append(
            f"  {res['spans']} spans written to {res['spans_file']}; sum of L.self_s vs "
            f"operation wall time: {err:.2e} (tolerance {SELF_SUM_TOLERANCE:g})"
        )
        values = res["per_layer"]
    else:
        log = logs[0]
        d = log.durations
        values = {
            "setup_s": res["setup_s"],
            # completed operations, wrong ones included: they are counted
            # in `failed`, and a throughput of 0 would hide the timing
            "ops_per_s": log.attempted / res["elapsed"],
            "op_s_p50": statistics.median(d),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        samples = {"ops_per_s": len(d), "op_s_p50": len(d)}
        for name, v in values.items():
            lines.append(f"  {name:<12} {v:.6g} {declared.get(name, '?')}  (n={samples.get(name, 1)})")
        # the highest percentile with at least ten samples beyond it
        tail = next((p for p in (99, 90, 75) if M.reportable(len(d), p)), None)
        if tail is not None:
            lines.append(f"  {f'op_s_p{tail}':<12} {M.percentile(d, tail):.6g} s  (n={len(d)})")
        else:
            lines.append(f"  op times     {', '.join(f'{x:.3f}' for x in d)} s")
    lines.append(
        f"  error_rate   {M.error_rate(attempted, failed):.6g}  ({failed}/{attempted} operations)"
    )
    if "repeat_share" in wl.p:
        share = M.repeat_share(res["events"], wl.warmup_requests())
        lines.append(
            f"  request repeat share {share:.3f} of {len(res['events'])} requests sent "
            f"(planned {wl.p['repeat_share']})"
        )
    lines.append("  phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items()))
    lines.append(f"  correct={correct}")
    print("\n".join(lines))
    for f in (notes + failures)[:5]:
        print("FAILED:", f, file=sys.stderr)

    if set(declared) != set(values):
        raise RuntimeError(
            "metrics computed and declared in BENCHMARK.json differ: "
            f"{sorted(set(declared) ^ set(values))}"
        )
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in declared.items()}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def _write_spans(path: Path, spans, span_jobs: dict) -> None:
    """One JSON line per span: name, start, end, parent, operation id
    and the Spark jobs it launched."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for sp in spans:
            f.write(json.dumps({**vars(sp), "jobs": span_jobs.get(sp.id, [])}) + "\n")


def main(argv=None) -> int:
    args = _args(argv)
    # on SIGTERM, unwind through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "thrill_spark" / "__init__.py").is_file():
        print(f"perfbench: no thrill_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((HERE / "spec.json").read_text())
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = _nproc()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        _pin_env(spec, work, nproc)
        sys.path.insert(0, str(ROOT))
        from perfbench import gen
        from perfbench import oracle as OR
        from perfbench.workloads import WORKLOADS

        phases = {}
        t0 = time.perf_counter()
        data = str(work / "data")
        truth = gen.generate(args.workload, spec, args.seed, data)
        wl = WORKLOADS[args.workload](spec, data, truth, str(work / "out"), args.seed)
        with OR.connect(data, wl.tables, str(work / "duckdb")) as con:
            wl.oracle(con)
        phases["inputs+oracle"] = time.perf_counter() - t0
        res, notes = _drive(wl, args, nproc, phases)
        result = _report(wl, args, res, notes, phases)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # it holds spans, or another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
