"""Same-host benchmark of dggstools-spark.

    python3 dggsbench/run.py --workload cell_queries|tile_store \\
        --seed N --seconds S --trace 0|1 [--tiny]

Run from the root of a checkout.  One closed loop (one client, one Spark
action in flight) on local[nproc].  The run starts the session, makes the
seeded inputs and the reference answers ``SETUP_REPS`` times, warms up,
then runs whole passes of the workload's op mix for ``--seconds`` and
checks every op's output against the reference after the timed window.
``--trace 1`` traces every other pass and reports per-layer metrics
instead of the end-to-end ones.
Human-readable lines come first; the last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
TAIL_PCT = 90  # op_tail_s is this percentile of the run's op latencies


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cell_queries", "tile_store"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test input sizes")
    return ap.parse_args(argv)


def host_env(work: str) -> dict:
    """Fit Spark to this host and keep every file it writes under ``work``:
    local[nproc], a JVM heap of a quarter of RAM (1-2 GiB), local and
    temp dirs in the work dir, and a PYTHONPATH that lets the Python
    workers import dggstools_spark from the checkout.  The heap is
    committed and touched at start, so the resident memory measured later
    moves with Python workers and off-heap buffers rather than with how far
    the collector happened to grow the heap."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) // 2**20
    heap = f"{max(1, min(2, mem_gib // 4))}g"
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=heap,
        SPARK_LOCAL_DIRS=f"{work}/local",
        TMPDIR=f"{work}/tmp",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp'"
            f" --conf spark.sql.warehouse.dir={work}/warehouse"
            f" --conf spark.hadoop.hadoop.tmp.dir={work}/tmp pyspark-shell"),
    )
    return {"nproc": cpus, "heap": heap}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def run_op(spark, wl, tr, probe, stamps, i: int, name: str, traced: bool):
    """One op, timed; a failure is recorded, not raised."""
    rec = {"i": i, "name": name, "traced": traced, "error": None}
    tr.enabled = traced
    if traced:
        spark.sparkContext.setJobGroup(f"op{i}", name)
        first = probe.head()
    before = stamps()
    t0 = time.perf_counter()
    out = None
    try:
        with tr.span(name, op=i):
            out = wl.op(spark, tr, i, name)
    except Exception:  # an op that errors counts as failed; the loop goes on
        rec["error"] = traceback.format_exc()
        print(rec["error"], file=sys.stderr)
    rec["s"] = time.perf_counter() - t0
    rec["host"] = {k: (v1 - v0) / rec["s"] for (k, v0), v1 in zip(before.items(), stamps().values())}
    if traced:
        rec["sql"] = probe.sums(first, probe.head())
        rec["jobs"] = probe.jobs(f"op{i}")
    tr.enabled = False
    return rec, out


def host_stamps(ncpu: int):
    """Cumulative steal% and PSI stall% counters; differences over an op,
    divided by its wall time, give the host noise during that op."""
    from bench import read_psi_total, read_steal_jiffies

    def stamps() -> dict:
        return {"steal_pct": read_steal_jiffies() / ncpu,  # jiffies: 100/s
                "psi_cpu_pct": read_psi_total("cpu") / 1e4,  # µs -> % of 1 s
                "psi_io_pct": read_psi_total("io") / 1e4}
    return stamps


def kernel_probe(lon, lat, res: int = 8) -> dict:
    """Single-thread numpy kernel on the workload's points: the cell-key
    encode rate and the share of it spent in ``projection.forward``."""
    from dggstools_spark.dggs import cells, projection

    def per_call(fn) -> float:
        times, t_end = [], time.perf_counter() + 0.3
        while len(times) < 3 or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return median(times)

    t_key = per_call(lambda: cells.lonlat_to_cellkey(lon, lat, res))
    t_proj = per_call(lambda: projection.forward(lon, lat))
    return {"dggs.cellkey_pts_per_s": (len(lon) / t_key, "pts/s"),
            "dggs.projection_share": (t_proj / t_key, "ratio")}


def end_to_end(wl, timed, passes, setup_s, peak_rss) -> dict:
    times = [r["s"] for r in timed]
    op_p50 = median(times)
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (wl.n_docs / op_p50, "docs/s"),
        "op_p50_s": (op_p50, "s"),
        "op_tail_s": (statistics.quantiles(times, n=100, method="inclusive")[TAIL_PCT - 1]
                      if len(times) > 1 else op_p50, "s"),
        "mix_pass_s": (median(passes), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer(wl, tr, timed, outs, reps, start_s, warm_s) -> dict:
    from workloads import CELL_QUERIES

    traced = [r for r in timed if r["traced"]]
    n = wl.n_docs

    def per_op(value) -> float:
        """Median over the traced ops of each op of the mix, averaged over
        the mix: the mean cost of one op, robust to a stray slow op."""
        meds = [median([value(r) for r in traced if r["name"] == q]) for q in wl.mix
                if any(r["name"] == q for r in traced)]
        return sum(meds) / len(meds) if meds else 0.0

    def sql(key: str) -> float:
        return per_op(lambda r: r["sql"][key])

    def span(name: str) -> float:
        d = tr.durations(name)
        return per_op(lambda r: d.get(r["i"], 0.0))

    # tracing overhead: traced minus untraced latency of the same op, both
    # after the first pass (which may run cold)
    later = [r for r in timed if r["pass"] > 0]
    overhead = per_op(lambda r: r["s"]) - sum(
        median([r["s"] for r in later if r["name"] == q and not r["traced"]])
        for q in wl.mix) / len(wl.mix)
    # rows the pruned read scanned per row it returned
    scanned = [tr.probe.sums(*s["executions"])["scan_rows"] / outs[op]["read"][0]
               for s in tr.spans if s["name"] == "cells_io.read"
               for op in [tr.op_of(s)] if op in outs and outs[op]["read"][0]]
    return {
        **kernel_probe(*wl.points()),
        "encode.py_init_s": (sql("py_init_s"), "s"),
        "encode.py_run_s": (sql("py_run_s"), "s"),
        "encode.bytes_to_py_per_doc": (sql("bytes_to_py") / n, "B/doc"),
        "encode.bytes_from_py_per_doc": (sql("bytes_from_py") / n, "B/doc"),
        "queries.build_s": (span("queries.build"), "s"),
        "spark.plan_s": (span("spark.plan"), "s"),
        "spark.jobs_per_op": (per_op(lambda r: r["jobs"]), "count"),
        **{f"queries.{q}_s": (median([r["s"] for r in timed if r["name"] == q]), "s")
           for q in CELL_QUERIES},
        "spark.scan_s": (sql("scan_s"), "s"),
        "spark.scan_bytes_per_doc": (sql("scan_file_bytes") / n, "B/doc"),
        "spark.agg_build_s": (sql("agg_build_s"), "s"),
        "spark.shuffle_bytes": (sql("shuffle_bytes"), "B"),
        "spark.spill_bytes": (sql("spill_bytes"), "B"),
        "spark.non_wscg_ops": (sql("non_wscg_ops"), "count"),
        "cells_io.write_s": (span("cells_io.write"), "s"),
        "cells_io.read_s": (span("cells_io.read"), "s"),
        "cells_io.rows_scanned_per_row_returned": (median(scanned), "ratio"),
        "lineage.run_batches_s": (span("lineage.checkpointed_write")
                                  + span("lineage.run_batches"), "s"),
        "lineage.resume_s": (span("lineage.run_batches"), "s"),
        "synth.generate_s": (median([r["generate"] for r in reps]), "s"),
        "session.start_s": (start_s, "s"),
        "setup.reference_s": (median([r["reference"] for r in reps]), "s"),
        "setup.warmup_s": (warm_s, "s"),
        "host.steal_pct": (median([r["host"]["steal_pct"] for r in timed]), "%"),
        "host.psi_cpu_pct": (median([r["host"]["psi_cpu_pct"] for r in timed]), "%"),
        "trace.overhead_s": (overhead, "s"),
        **wl.store_metrics(list(outs.values())),
    }


def run(args, work: str, host: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from dggstools_spark.session import get_spark
    from tracing import RssSampler, SqlProbe, Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, args.tiny)
    tr = Tracer(False)
    stamps = host_stamps(os.cpu_count())
    spark, reps = None, []
    try:
        t0 = time.perf_counter()
        spark = get_spark("dggsbench")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate(f"{work}/in{r}")
            t1 = time.perf_counter()
            wl.reference(spark)
            reps.append({"generate": t1 - t0, "reference": time.perf_counter() - t1})
            if r:
                shutil.rmtree(f"{work}/in{r - 1}")

        records, outs = [], {}
        t0 = time.perf_counter()
        for w in range(wl.warmup_ops):
            rec, out = run_op(spark, wl, tr, None, stamps, -1 - w, wl.next_name(), False)
            records.append((rec, out))
        warm_s = time.perf_counter() - t0
        setup_s = start_s + median([r["generate"] + r["reference"] for r in reps]) + warm_s

        if args.trace:
            tr.probe = SqlProbe(spark)
        # Whole passes of the mix.  After the first pass, another starts only
        # if one as long as the last ends within the window.  Traced runs
        # trace every odd pass and run at least three, so each op of the mix
        # has traced and untraced samples after the first pass.
        timed, passes, i, p = [], [], 0, 0
        deadline = time.perf_counter() + args.seconds
        with RssSampler() as rss:
            while p < (3 if args.trace else 1) or time.perf_counter() + passes[-1] <= deadline:
                t_pass = time.perf_counter()
                for _ in wl.mix:
                    rec, out = run_op(spark, wl, tr, tr.probe, stamps, i, wl.next_name(),
                                      bool(args.trace) and p % 2 == 1)
                    rec["pass"] = p
                    timed.append(rec)
                    records.append((rec, out))
                    i += 1
                passes.append(time.perf_counter() - t_pass)
                p += 1

        failed = 0
        for rec, out in records:  # verification, outside the timed window
            try:
                rec["ok"] = rec["error"] is None and wl.verify(rec["name"], out)
            except Exception:  # a check that cannot run counts as a failure
                traceback.print_exc()
                rec["ok"] = False
            failed += not rec["ok"]
            if out is not None:
                if rec["i"] >= 0:
                    outs[rec["i"]] = out
                wl.cleanup(out)

        metrics = end_to_end(wl, timed, passes, setup_s, rss.peak_bytes)
        layers = per_layer(wl, tr, timed, outs, reps, start_s, warm_s) if args.trace else {}
    finally:
        if spark is not None:
            stop_spark(spark)

    versions = {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "numpy": numpy.__version__}
    print(f"dggsbench {wl.name} seed={args.seed} trace={args.trace} "
          f"local[{host['nproc']}] heap={host['heap']} "
          + " ".join(f"{k}={v}" for k, v in versions.items()))
    host_noise = {k: max(r["host"][k] for r in timed) for k in ("steal_pct", "psi_cpu_pct")}
    print(f"ops: {len(timed)} timed + {wl.warmup_ops} warm-up, {failed} failed; "
          f"op_tail_s is p{TAIL_PCT} of {len(timed)} ops; worst op: "
          f"steal {host_noise['steal_pct']:.1f}%, psi_cpu {host_noise['psi_cpu_pct']:.1f}%")
    for q in wl.mix:
        print(f"  {q} s: " + " ".join(f"{r['s']:.3f}" for r in timed if r["name"] == q))
    print("  passes s: " + " ".join(f"{s:.3f}" for s in passes))
    shown =dict(metrics, failed_ops_frac=(failed / len(records), "ratio"), **layers)
    for k, (v, unit) in shown.items():
        print(f"  {k:<40} {v:>16.6g} {unit}")
    idle = [k for k, (v, _) in layers.items() if v == 0]
    if idle:
        print("  zero: layer not exercised by this workload, or no event of the kind: "
              + ", ".join(idle))
    if args.trace:
        tr.write(os.path.join(os.path.dirname(work), f"trace-{wl.name}-seed{args.seed}.json"),
                 {"workload": wl.name, "seed": args.seed, **host, **versions,
                  "ops": [r for r, _ in records]})
    chosen = layers if args.trace else metrics
    return {"correct": failed == 0, "attempted": len(records), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it.  The
    JVM is stopped even when the session can not be, as after a SIGTERM
    that cut a py4j call short."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            finally:
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    needed = ("dggstools_spark/__init__.py", "bench.py", "scripts/check_entry.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"dggsbench: {ROOT} is not a dggstools-spark checkout "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    # the program, bench.py and scripts/check_entry.py come from the checkout
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "scripts")]
    work = os.path.join(ROOT, ".dggsbench_work", f"run-{os.getpid()}")
    host = host_env(work)
    # a SIGTERM unwinds like an error, so the JVM is stopped and the work
    # directory removed on that path out too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
