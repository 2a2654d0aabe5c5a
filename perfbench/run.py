#!/usr/bin/env python3
"""KG-pipeline benchmark: ``ingest``, ``refine`` and ``serve`` workloads.

    python3 perfbench/run.py --workload serve --seed 3 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 3      # all three, one session

Run from the repository root.  Inputs are generated from ``--seed``
(perfbench/gen.py); the library under ``rdf_rdfa_spark/`` is only
called through its public functions (perfbench/workloads.py).

With ``--trace 0`` the last stdout line is one JSON object whose
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the workload runs untraced once and then traced, and the metrics are
the per-layer ones (0 for a layer the workload does not use).  Human-
readable lines with the workload's own metric names precede the JSON.
The exit code is 1 when an output check fails, 2 when the library is
missing.

Runtime files (inputs, stores, Spark scratch) live under
``.perfbench/`` in the working directory and are removed at exit,
except the span logs in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
T0 = time.perf_counter()

SETUP_REPEATS = 2
DRIVER_MEMORY = "2g"


def _metric_units(root: str):
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "refine", "serve", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pages", type=int, default=1000,
                    help="pages in the generated crawl (default 1000)")
    return ap.parse_args(argv)


def _environment(root: str, work: str):
    """Keep every file Spark, the JVM and the Python workers write
    inside ``work``, and make the library importable by the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # a fixed driver heap: peak RSS then depends on the workload, not on
    # the host's RAM (get_spark otherwise sizes it to 40% of MemTotal)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    confs = {
        # the whole heap is committed at start, so the JVM's share of
        # peak RSS does not depend on when G1 happens to grow the heap
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=%s -Xms%s "
        "-XX:+AlwaysPreTouch" % (tmp, DRIVER_MEMORY),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        "--conf %s" % shlex.quote("%s=%s" % kv) for kv in confs.items()
    ) + " pyspark-shell"


def _stop(spark):
    """Stop Spark, close the JVM and wait for every child process."""
    from tracing import _children

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    _log("JVM exited")
    deadline = time.time() + 20
    while _children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _children().get(os.getpid(), ()):
        _log("killing child %d" % pid)
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except OSError:
            pass


def _log(msg: str):
    print("perfbench [%7.2fs] %s" % (time.perf_counter() - T0, msg),
          file=sys.stderr, flush=True)


def _report(lines: dict, units: dict):
    for name, value in lines.items():
        print("%-44s %14.4f %s" % (name, value, units.get(name, "")))


# names the issue-level report uses for each workload's numbers
_NAMED = {
    "ingest": [("ingest.pages_per_s", "throughput", "pages/s"),
               ("ingest.mb_per_s", "mb_per_s", "MB/s"),
               ("ingest.error_ratio", "error_ratio", "ratio"),
               ("ingest.peak_rss_mb", "peak_rss_mb", "MB")],
    "refine": [("refine.wall_s", "latency_p50_ms", "s"),
               ("refine.peak_rss_mb", "peak_rss_mb", "MB")],
    "serve": [("serve.read_p50_ms", "latency_p50_ms", "ms"),
              ("serve.read_p90_ms", "read_p90_ms", "ms"),
              ("serve.append_p50_ms", "append_p50_ms", "ms"),
              ("serve.ops_per_s", "throughput", "ops/s"),
              ("serve.error_ratio", "error_ratio", "ratio"),
              ("serve.peak_rss_mb", "peak_rss_mb", "MB")],
}


def _named(workload: str, out: dict) -> dict:
    res = {}
    for name, key, _unit in _NAMED[workload]:
        val = out.get(key, 0.0)
        res[name] = val / 1e3 if name == "refine.wall_s" else val
    return res


def main(argv=None) -> int:
    args = _parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rdf_rdfa_spark", "__init__.py")):
        print("perfbench: run from the repository root (no rdf_rdfa_spark/ "
              "package in %s)" % root, file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    e2e_units, layer_units = _metric_units(root)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    _environment(root, work)
    sys.path[:0] = [HERE, root]

    import gen
    import workloads
    from tracing import Spans, tail
    from rdf_rdfa_spark.pipeline.session import get_spark

    names = (["ingest", "refine", "serve"] if args.workload == "all"
             else [args.workload])
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench-" + args.workload, cores=cores)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spans = Spans(spark.sparkContext, "%s-%d" % (args.workload, args.seed),
                      enabled=False)
        session_s = time.perf_counter() - t_start
        # set-up after the session: input generation plus each
        # workload's own preparation (setup store), repeated
        # SETUP_REPEATS times in fresh directories, of which the median
        # counts; then one warm-up of the workload on the last of them
        prep = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            corpus = gen.generate(args.seed, n_pages=args.pages)
            ctxs = {}
            for w in names:
                ctx = workloads.Context(spark, spans, corpus,
                                        os.path.join(work, "%s-%d" % (w, rep)),
                                        trace=bool(args.trace))
                workloads.WORKLOADS[w][0](ctx)
                ctxs[w] = ctx
            prep.append(time.perf_counter() - t0)
            _log("setup %d done" % rep)
        # earlier set-ups are not used again; removing them now, soon
        # after they were written, spares the disk most of their writeback
        for rep in range(SETUP_REPEATS - 1):
            for w in names:
                workloads.remove_tree(os.path.join(work, "%s-%d" % (w, rep)))
        t0 = time.perf_counter()
        for w in names:
            workloads.WORKLOADS[w][1](ctxs[w])
        warm_s = time.perf_counter() - t0
        _log("warm-up done")
        setup_s = session_s + statistics.median(prep) + warm_s

        correct, attempted, failed = True, 0, 0
        metrics, named, units = {}, {"setup_s": setup_s}, {"setup_s": "s"}
        for w in names:
            ctx = ctxs[w]
            ctx.trace = spans.enabled = False
            out = workloads.WORKLOADS[w][2](ctx, args.seconds)
            if args.trace:
                spans.records.clear()  # per-layer numbers: traced spans only
                ctx.trace = spans.enabled = True
                workloads.WORKLOADS[w][3](ctx, out)
            _log("%s measured%s" % (w, "; job walls %s s" % " ".join(
                "%.2f" % j for j in out["jobs"]) if "jobs" in out else ""))
            attempted += out["attempted"]
            failed += out["failed"]
            if out["failed"]:
                correct = False
                print("CHECK FAILED %s: %s" % (w, json.dumps(out["check"])),
                      file=sys.stderr)
            named.update(_named(w, out))
            units.update({n: u for n, _k, u in _NAMED[w]})
            prefix = "" if len(names) == 1 else w + "."
            if args.trace:
                for name, unit in layer_units.items():
                    metrics[prefix + name] = {
                        "value": float(ctx.layer.get(name, 0.0)), "unit": unit}
            else:
                vals = {"setup_s": setup_s, "throughput_per_s": out["throughput"],
                        "latency_p50_ms": out["latency_p50_ms"],
                        "peak_rss_mb": out["peak_rss_mb"]}
                for name, unit in e2e_units.items():
                    metrics[prefix + name] = {"value": vals[name], "unit": unit}
            if w == "serve":
                lat = [o["s"] * 1e3 for o in out["reads"]]
                tl = tail(lat)
                print("serve: %d reads, %d appends; read tail %s"
                      % (len(lat), len(out["appends"]),
                         "p%d = %.1f ms" % tl if tl else "n/a (< 20 reads)"))
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        spans.write(os.path.join(base, "traces", "%s-seed%d-trace%d.jsonl"
                                 % (args.workload, args.seed, args.trace)))
        _report(named, units)
        if args.trace:
            _report({k: v["value"] for k, v in metrics.items()},
                    {k: v["unit"] for k, v in metrics.items()})
    finally:
        _log("stopping")
        _stop(spark)
        _log("removing %s" % work)
        workloads.remove_tree(work)
        _log("stopped")
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
