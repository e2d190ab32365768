#!/usr/bin/env python3
"""Layer-resolved benchmark of the engine on ``local[N]``, N = bound CPUs.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload

One closed-loop client runs the workload's operation back to back: set-up
(session start and one warm-up operation), then ``--seconds`` measured.
Every result is checked against an independent oracle outside the timed
region, and the run prints a summary
followed by one JSON line ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs half the time untraced
and half staged layer by layer, and reports the per-layer metrics. Every
file the run writes lands under ``perfbench/.data``; each run also leaves a
JSON artifact there with the machine facts, samples and spans.

A ``--cores`` request above the CPUs bound to the process is refused and
recorded as not measured (exit code 3).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
              "pixels_per_s": "1/s", "cpu_s": "s"}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "scan.s": "s", "scan.bytes": "bytes",
    "qi.s": "s", "qi.docs": "count",
    "survivors.s": "s", "survivors.ratio": "ratio",
    "decode.s": "s", "decode.pixel_rows": "count",
    "aggregate.s": "s", "aggregate.rows": "count",
    "snap_op.s": "s",
    "lineage.resume_filter_s": "s", "lineage.write_s": "s",
    "lineage.files": "count", "lineage.out_bytes": "bytes",
    "ingest.resume_noop_s": "s", "ingest.stored_bytes_per_pixel": "bytes",
    "kernel.parse_s": "s", "kernel.grid_s": "s", "kernel.synth_s": "s",
    "kernel.resample_s": "s", "kernel.nn_s": "s", "kernel.frame_s": "s",
    "kernel.total_s": "s",
    "kernel.chunks_decoded": "count", "kernel.pixels_resampled": "count",
    "kernel.pixels_kept": "count", "kernel.pixel_keep_ratio": "ratio",
    "kernel.chunk_touch_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "cpu.jvm_s": "s", "cpu.python_workers_s": "s", "cpu.driver_s": "s",
    "cpu.util": "ratio",
    "layers.coverage": "ratio", "trace.overhead_s": "s",
}
WORKLOAD_NAMES = ["flagship", "ingest"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=14.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] task slots (default: every bound CPU)")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def _artifact(name: str, payload: dict) -> str:
    os.makedirs(os.path.join(DATA, "results"), exist_ok=True)
    path = os.path.join(DATA, "results", f"{name}-{int(time.time())}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    return path


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JAVA_TOOL_OPTIONS reaches the spark-submit launcher JVM as well as
    # the driver JVM; -XX:-UsePerfData stops both writing /tmp/hsperfdata_*
    os.environ.update({"TZ": "UTC", "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
                       "PYTHONDONTWRITEBYTECODE": "1",
                       "JAVA_TOOL_OPTIONS":
                           f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
    time.tzset()
    sys.dont_write_bytecode = True


def start_session(cores: int, run_dir: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from satellitetools_spark.session import get_spark
    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers it started, and wait
    until every one of those processes has ended."""
    import probe
    from pyspark import SparkContext
    started = [pid for pid, *_ in probe.tree(os.getpid()) if pid != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        os.kill(p, signal.SIGKILL)


def closed_loop(seconds: float, op, check):
    """Run ``op`` back to back until ``seconds`` of operation time are
    spent (at least once). Checks run between operations, untimed."""
    samples, spent = [], 0.0
    while not samples or spent < seconds:
        t0 = time.perf_counter()
        res = op()
        dt = time.perf_counter() - t0
        spent += dt
        samples.append((dt, res, check(res)))
    return samples


def run(args, cores: int) -> dict:
    import probe
    import workloads as W
    from spans import Tracer

    run_dir = os.path.join(DATA, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _isolate(run_dir)
    wl = W.WORKLOADS[args.workload](ROOT, run_dir, args.seed)
    pid = os.getpid()
    verdicts = []

    def checked(res):
        v = wl.check(res)
        verdicts.append(v)
        return v

    try:
        wl.prepare()
        log(f"inputs ready: {wl.n_docs} docs, {wl.pixel_rows} pixel rows")
        with probe.RssSampler(pid) as rss:
            t0 = time.perf_counter()
            spark = start_session(cores, run_dir)
            checked(wl.op(spark))  # warm-up operation: part of set-up
            setup_s = time.perf_counter() - t0
            log(f"set-up {setup_s:.2f} s")
            steal0 = probe.steal_seconds()
            env = probe.environment(ROOT, cores)
            env["spark"] = spark.version

            untraced_s = args.seconds / 2 if args.trace else args.seconds
            per_op = []   # CPU (and, traced, jobs/stages/tasks) per measured op

            def op():
                group = f"op{len(per_op)}"
                if args.trace:
                    spark.sparkContext.setJobGroup(group, group)
                cpu0 = probe.cpu_by_role(pid)
                t = time.perf_counter()
                res = wl.op(spark)
                wall = time.perf_counter() - t
                cpu1 = probe.cpu_by_role(pid)
                per_op.append({"dt": wall, "wall": res.get("wall") or wall,
                               "start": t, "end": t + wall,
                               **{k: cpu1[k] - cpu0[k] for k in cpu1}})
                if args.trace:
                    per_op[-1].update(W.spark_counts(spark, group))
                return res

            samples = closed_loop(untraced_s, op, checked)
            log(f"{len(samples)} untraced ops")
            tr = Tracer()
            staged = []
            if args.trace:
                ids = itertools.count()
                staged = closed_loop(
                    args.seconds / 2,
                    lambda: wl.staged_op(spark, tr, next(ids)), checked)
        for p in per_op:
            p["peak_rss_mb"] = rss.peak_bytes(p["start"], p["end"]) / 2 ** 20
        env["steal_s_while_measuring"] = probe.steal_seconds() - steal0
        extras = wl.layer_extras(spark) if args.trace else {}
        log("measured; stopping")
        stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # the timer around the engine call alone, without the /proc probes
    walls = [p["wall"] for p in per_op]
    wall = W.median(walls)
    info = {"workload": args.workload, "seed": args.seed, "env": env,
            "docs": wl.n_docs, "pixel_rows": wl.pixel_rows,
            "setup_s": setup_s,
            "walls": walls, "per_op": per_op, "verdicts": verdicts,
            "run_peak_rss_mb": rss.peak_bytes() / 2 ** 20,
            "rss": [(t - t0, acc) for t, acc in rss.samples]}
    info["end_to_end"] = {"setup_s": setup_s, "wall_s": wall,
                          "docs_per_s": wl.n_docs / wall,
                          "pixels_per_s": wl.pixel_rows / wall,
                          "cpu_s": W.median([_cpu(p) for p in per_op])}
    if args.workload == "ingest":
        ok = [res for _, res, v in samples if v == "OK"]
        info["ingest"] = {
            "resume_noop_s": W.median([r["resume_s"] for r in ok]),
            "stored_bytes_per_pixel":
                W.median([r["bytes"] for r in ok]) / max(1, wl.pixel_rows),
            "files": W.median([r["files"] for r in ok]),
            "out_bytes": W.median([r["bytes"] for r in ok]),
        }
    if args.trace:
        info["per_layer"] = layer_metrics(wl, tr, staged, per_op, extras,
                                          info.get("ingest", {}), cores)
        info["spans"] = tr.spans
    return info


def _cpu(p: dict) -> float:
    """CPU seconds the whole process tree spent in one operation."""
    return p["jvm"] + p["python_workers"] + p["driver"] + p["other"]


def layer_metrics(wl, tr, staged, per_op, extras, ingest, cores) -> dict:
    import workloads as W
    med = W.median
    n_ops = len(staged)
    by_op = [[s for s in tr.spans if s["op"] == k] for k in range(n_ops)]

    def span_s(name):
        return med([sum(s["end"] - s["start"] for s in ops if s["name"] == name)
                    for ops in by_op])

    def count(name, key):
        vals = [s["counts"][key] for s in by_op[-1] if s["name"] == name]
        return vals[0] if vals else 0

    op_spans = [s for s in tr.spans if s["name"] == "op"]
    self_t = tr.self_times()
    coverage = med([1.0 - self_t[s["id"]] / (s["end"] - s["start"])
                    for s in op_spans])
    traced_wall = med([s["end"] - s["start"] for s in op_spans])
    untraced_wall = med([p["wall"] for p in per_op])
    m = {
        "peak_rss_mb": med([p["peak_rss_mb"] for p in per_op]),
        "scan.s": span_s("scan"), "scan.bytes": extras.get("scan.bytes", 0),
        "qi.s": span_s("qi"), "qi.docs": count("qi", "docs"),
        "survivors.s": span_s("survivors"),
        "survivors.ratio": count("survivors", "ratio"),
        "decode.s": span_s("decode"),
        "decode.pixel_rows": count("decode", "pixel_rows"),
        "aggregate.s": span_s("aggregate"),
        "aggregate.rows": count("aggregate", "rows"),
        "snap_op.s": span_s("snap_op"),
        "lineage.resume_filter_s": span_s("lineage.resume_filter"),
        "lineage.write_s": span_s("lineage.write"),
        "lineage.files": ingest.get("files", 0),
        "lineage.out_bytes": ingest.get("out_bytes", 0),
        "ingest.resume_noop_s": ingest.get("resume_noop_s", 0),
        "ingest.stored_bytes_per_pixel": ingest.get("stored_bytes_per_pixel", 0),
        **{k: v for k, v in extras.items() if k.startswith("kernel.")},
        "spark.jobs": med([p["jobs"] for p in per_op]),
        "spark.stages": med([p["stages"] for p in per_op]),
        "spark.tasks": med([p["tasks"] for p in per_op]),
        "cpu.jvm_s": med([p["jvm"] for p in per_op]),
        "cpu.python_workers_s": med([p["python_workers"] for p in per_op]),
        "cpu.driver_s": med([p["driver"] for p in per_op]),
        "cpu.util": med([_cpu(p) / (p["dt"] * cores) for p in per_op]),
        "layers.coverage": coverage,
        "trace.overhead_s": traced_wall - untraced_wall,
    }
    # layers the workload does not run (snap_op and lineage on flagship,
    # aggregate on ingest) report 0
    return {name: m.get(name, 0.0) for name in PER_LAYER}


def report(info: dict, trace: int) -> dict:
    """Print the human summary; return the contract's JSON object."""
    attempted = len(info["verdicts"])
    failed = sum(v != "OK" for v in info["verdicts"])
    env = info["env"]
    print(f"# {info['workload']} seed={info['seed']} {env['master']} "
          f"bound_cpus={env['bound_cpus']} spark={env['spark']} "
          f"python={env['python']} rev={env['git_rev']} "
          f"dirty={env['git_dirty']} src={env['source_digest']} "
          f"steal={env['steal_s_while_measuring']:.2f}s")
    print(f"# docs={info['docs']} pixel_rows={info['pixel_rows']} "
          f"ops={len(info['walls'])} failed_ratio={failed / attempted:.3f}")
    for v in sorted(set(info["verdicts"]) - {"OK"}):
        print(f"# check failed: {v}")
    walls = info["walls"]
    for name, unit in END_TO_END.items():
        extra = (f" (n={len(walls)} min={min(walls):.4f} max={max(walls):.4f})"
                 if name == "wall_s" else "")
        print(f"{name:34s} {info['end_to_end'][name]:14.6g} {unit}{extra}")
    if not trace:  # otherwise in the per-layer lines below
        for name, val in info.get("ingest", {}).items():
            print(f"{'ingest.' + name:34s} {val:14.6g}")
    names = PER_LAYER if trace else END_TO_END
    values = info["per_layer"] if trace else info["end_to_end"]
    if trace:
        for name, unit in PER_LAYER.items():
            print(f"{name:34s} {values[name]:14.6g} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": float(values[n]), "unit": u}
                        for n, u in names.items()}}


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    import subprocess
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.cores is not None:
            cmd += ["--cores", str(args.cores)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"# {w}: exit {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update(
            {f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "satellitetools_spark")):
        print("perfbench: the engine sources (satellitetools_spark/) are not "
              "beside perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    import probe
    try:
        cores = probe.resolve_cores(args.cores)
    except probe.CoresRefused as refused:
        path = _artifact(f"{args.workload}-refused", {
            "status": "not measured", "reason": str(refused),
            "requested_cores": args.cores, "bound_cpus": probe.bound_cpus(),
            "env": probe.environment(ROOT, None)})
        print(f"perfbench: {refused} ({path})", file=sys.stderr)
        return 3
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    info = run(args, cores)
    out = report(info, args.trace)
    info["result"] = out
    print(f"# artifact {_artifact(args.workload, info)}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
