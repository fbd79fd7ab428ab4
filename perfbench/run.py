#!/usr/bin/env python3
"""Crawl benchmark: drives the public crawl API on a generated corpus and
checks every crawl against the pure-Python simulator.

    python3 perfbench/run.py --workload frontier_bulk --seed 1 --seconds 20 --trace 0

Run it from the repository root. One run is one closed loop with one
client: a Spark session ``local[nproc // 2]`` in one child process (see
``supervise``), set up once (session, corpus generation and cache, one
warm-up crawl), then crawls one after another until ``--seconds`` are
used up. Each crawl's outputs are compared with ``simulator.simulate`` on
the same seed; a crawl with any mismatched row counts as failed.

``--trace 0`` reports the end-to-end metrics (medians over the crawls).
``--trace 1`` instruments the layers (``trace.py``), turns the Spark event
log on and reports per-layer metrics of the median crawl plus the box
stamp. Every metric is printed as ``metric <name> <value> <unit>``, the
full report goes to ``.perfbench_work/results/``, and the last stdout line
is the JSON result whose metric names must match ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORPUS_BUILDS = 3   # set-up repeats the corpus build; setup_s takes the median
# set in the child process that runs the benchmark (see supervise)
CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36
# seconds the descendants get to end by themselves after the child ended
REAP_GRACE_S = 20


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_spark(run_dir: str, cpus: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    builder = (
        # half as many task slots as CPUs: a task that runs a Python UDF
        # keeps its JVM thread and its Python worker busy at once, and the
        # driver, JIT and GC threads need CPU time too. With one slot per
        # CPU a 4-CPU box ran the bulk crawl ~10% slower and less steadily.
        SparkSession.builder.master(f"local[{max(1, cpus // 2)}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + events)
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
            raise


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def politeness_counts(sched_rows, fetched_rows) -> dict:
    from collections import Counter

    from perfbench.workloads import FETCH_STATUSES

    # deferred: admitted rows due by the last round run that were not
    # fetched in the round they were due (fetched later, or still pending)
    last = max((r["round"] for r in fetched_rows), default=-1)
    fetched_in = {r.url: r["round"] for r in fetched_rows}
    deferred = sum(1 for r in sched_rows if r.enqueue_round <= last
                   and fetched_in.get(r.url) != r.enqueue_round)
    per_host = Counter((r["round"], r.host) for r in fetched_rows
                       if r.status in FETCH_STATUSES)
    return {"politeness.deferred_rows": deferred,
            "politeness.max_host_fetches_per_round": max(per_host.values(), default=0)}


def set_up(spark, w, seed: int, run_dir: str):
    """Corpus build and cache (repeated, median taken) and one warm-up
    crawl, the same crawl as the timed ones: it starts the Python workers
    and warms the JVM on every plan the timed crawls run."""
    from perfbench import workloads as wl

    builds = []
    for i in range(CORPUS_BUILDS):
        t = time.perf_counter()
        pages = wl.build_corpus(spark, w, seed)
        builds.append(time.perf_counter() - t)
        if i + 1 < CORPUS_BUILDS:
            pages.unpersist(blocking=True)
    workdir = os.path.join(run_dir, "warmup")
    t = time.perf_counter()
    res, _ = wl.crawl(spark, pages, w, workdir)
    res.schedule.count()
    warmup_s = time.perf_counter() - t
    shutil.rmtree(workdir)
    return pages, {"corpus_s": builds, "warmup_s": warmup_s}


def crawl_once(spark, pages, w, workdir: str, want, tracer, k: int) -> dict:
    """One timed crawl (run_crawl call to counted results), then its
    checks and counts outside the timed part."""
    from pyspark.sql import functions as F

    from perfbench import box
    from perfbench import workloads as wl
    from perfbench.trace import dir_bytes

    timing: dict = {}
    # every timed crawl starts from collected heaps, so no crawl pays for
    # the garbage of the one before it
    gc.collect()
    spark._jvm.java.lang.System.gc()
    if tracer:
        tracer.begin(k)
    ticks = box.cpu_ticks()
    t = time.perf_counter()
    res, audit = wl.crawl(spark, pages, w, workdir, timing=timing)
    n_sched = res.schedule.count()
    n_pages = res.fetched.filter(F.col("kind") == "page").count()
    crawl_s = time.perf_counter() - t
    sample = {"crawl_s": crawl_s, "scheduled": n_sched, "pages_fetched": n_pages,
              "rounds": res.rounds, "timing": timing, "seen_filter": audit,
              "steal_share": box.steal_share(ticks, box.cpu_ticks())}
    if tracer:
        sample["tableio"] = dict(tracer.counters)
        tracer.end()
    sample["ckpt_bytes"] = dir_bytes(workdir)
    got, sched_rows, fetched_rows = wl.engine_tables(res)
    sample["mismatched_rows"] = got.mismatched_rows(want)
    sample.update(politeness_counts(sched_rows, fetched_rows))
    sample["ok_pages"] = sorted(r.url for r in fetched_rows
                                if r.kind == "page" and r.status == "ok")
    shutil.rmtree(workdir)
    return sample


def measure(args, w, run_dir: str, cpus: int) -> dict:
    from contextlib import nullcontext

    from perfbench import workloads as wl
    from perfbench.trace import Tracer

    # the expected result: pure Python, before Spark and outside timing
    t = time.perf_counter()
    want, corpus = wl.expected(w, args.seed)
    expected_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = make_spark(run_dir, cpus, bool(args.trace))
    try:
        session_s = time.perf_counter() - t
        pages, setup = set_up(spark, w, args.seed, run_dir)
        setup.update(expected_s=expected_s, session_s=session_s,
                     setup_s=session_s + statistics.median(setup["corpus_s"])
                     + setup["warmup_s"])
        tracer = Tracer(spark) if args.trace else None
        samples = []
        start = time.perf_counter()
        with tracer or nullcontext():
            # closed loop: next crawl only if it should fit the window
            while not samples or (time.perf_counter() - start
                                  + samples[-1]["crawl_s"] <= args.seconds):
                samples.append(crawl_once(
                    spark, pages, w, os.path.join(run_dir, f"crawl{len(samples)}"),
                    want, tracer, len(samples)))
                if len(samples) == 1:
                    # the peak after set-up and one crawl: the same work in
                    # every run, however many crawls fit the window
                    peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    return {"setup": setup, "samples": samples, "peak_rss_mb": peak_rss_mb,
            "corpus": corpus}


def end_to_end(m: dict) -> dict:
    s = m["samples"]
    med = lambda f: statistics.median(f(x) for x in s)  # noqa: E731
    return {
        "setup_s": m["setup"]["setup_s"],
        "crawl_s": med(lambda x: x["crawl_s"]),
        "pages_fetched_per_s": med(lambda x: x["pages_fetched"] / x["crawl_s"]),
        "urls_scheduled_per_s": med(lambda x: x["scheduled"] / x["crawl_s"]),
        "ckpt_bytes_per_url": med(lambda x: x["ckpt_bytes"] / x["scheduled"]),
        "peak_rss_mb": m["peak_rss_mb"],
    }


def per_layer(m: dict, run_dir: str, box_stamp: dict) -> dict:
    """Per-layer metrics of the median crawl (lower median by crawl_s), so
    its phase times and ``crawl.unphased_s`` add up to its crawl time."""
    from go_crawler_spark.functions.htmlx import parse_page

    from perfbench.eventlog import FIELDS, load_group_stats
    from perfbench.metrics import PHASES
    from perfbench.trace import LAYERS

    s = m["samples"]
    k = sorted(range(len(s)), key=lambda i: s[i]["crawl_s"])[(len(s) - 1) // 2]
    x = s[k]
    out = {"trace.crawl_s": x["crawl_s"],
           "mismatched_rows": sum(y["mismatched_rows"] for y in s)}
    for p in PHASES:
        out[f"crawl.{p}_s"] = x["timing"].get(p, 0.0)
    out["crawl.unphased_s"] = x["crawl_s"] - sum(out[f"crawl.{p}_s"] for p in PHASES)
    out["crawl.rounds"] = x["rounds"]

    groups = load_group_stats(os.path.join(run_dir, "events"))
    jobs = 0
    for layer in LAYERS:
        g = groups.get(f"c{k}:{layer}")
        jobs += g.jobs if g else 0
        for f in FIELDS:
            out[f"spark.{layer}.{f}"] = getattr(g, f) if g else 0
    out["crawl.jobs_per_round"] = jobs / max(x["rounds"], 1)

    corpus = m["corpus"]
    t = time.process_time()
    for url in x["ok_pages"]:
        parse_page(url, corpus[url])
    out["htmlx.parse_page_cpu_s"] = time.process_time() - t
    py_run = out["spark.fetch.py_run_s"]
    out["htmlx.parser_share"] = out["htmlx.parse_page_cpu_s"] / py_run if py_run else 0.0

    audit = x["seen_filter"]
    # inactive rounds log None counts
    cand = sum(e["candidates"] or 0 for e in audit)
    pruned = sum(e["pruned"] or 0 for e in audit)
    out["dedup.filter_active_rounds"] = sum(1 for e in audit if e["active"])
    out["dedup.filter_candidates"] = cand
    out["dedup.filter_pruned"] = pruned
    out["dedup.filter_prune_ratio"] = pruned / cand if cand else 0.0

    for c, v in x["tableio"].items():
        out[f"tableio.{c}"] = v
    out["politeness.deferred_rows"] = x["politeness.deferred_rows"]
    out["politeness.max_host_fetches_per_round"] = x["politeness.max_host_fetches_per_round"]
    for key, v in box_stamp.items():
        out[f"box.{key}"] = v
    out["box.steal_share"] = x["steal_share"]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind so the finally blocks stop the JVM and clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, "go_crawler_spark")):
        print(f"perfbench: no go_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the engine's UDF modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    run_dir = os.path.join(
        WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep every file this run writes inside run_dir: temporary files of
    # this process, the JVMs and the Python workers, Spark's scratch space
    # (an inherited SPARK_LOCAL_DIRS would win over spark.local.dir), and
    # no hsperfdata file from the launcher JVM
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        from perfbench import box
        from perfbench.metrics import check_names, registry, result_line, write_report
        from perfbench.workloads import workloads

        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        w = workloads(box.nproc()).get(args.workload)
        if w is None:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        box_stamp = box.stamp() if args.trace else {"nproc": box.nproc()}
        m = measure(args, w, run_dir, box_stamp["nproc"])
        values = (per_layer(m, run_dir, box_stamp) if args.trace
                  else end_to_end(m))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = m["samples"]
    failed = sum(1 for x in samples if x["mismatched_rows"])
    units = registry(bool(args.trace))
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": box_stamp, "setup": m["setup"],
        "metrics": values, "units": units,
        "samples": [{k: v for k, v in x.items() if k != "ok_pages"}
                    for x in samples],
    }
    write_report(os.path.join(
        WORK, "results",
        f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"),
        report)
    setup = m["setup"]
    print(f"setup session_s={setup['session_s']:.3f} corpus_s="
          + ",".join(f"{c:.3f}" for c in setup["corpus_s"])
          + f" warmup_s={setup['warmup_s']:.3f}")
    for x in samples:
        print(f"crawl crawl_s={x['crawl_s']:.3f} scheduled={x['scheduled']} "
              f"pages_fetched={x['pages_fetched']} rounds={x['rounds']} "
              f"mismatched_rows={x['mismatched_rows']} "
              f"steal_share={x['steal_share']:.4f}")
    if not args.trace:
        print(f"metric mismatched_rows {sum(x['mismatched_rows'] for x in samples)} count")
    for name, value in values.items():
        print(f"metric {name} {value} {units.get(name, '?')}")

    problems = check_names(spec, bool(args.trace), values)
    if problems:
        for p in problems:
            print(f"perfbench: {p}", file=sys.stderr)
        return 3
    print(result_line(failed == 0, len(samples), failed, values, units))
    return 0


def children() -> list:
    """Pids of this process's children, from /proc."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def supervise(argv) -> int:
    """Run the benchmark in a child process and outlive everything it
    starts. As a child subreaper this process inherits the descendants the
    child leaves behind (the Python daemon and workers of the JVM,
    multiprocessing's resource tracker). It waits for each of them, kills
    those still running ``REAP_GRACE_S`` after the child ended, and returns
    the child's exit code."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env={**os.environ, CHILD_ENV: "1"})
    # the child unwinds on SIGTERM and stops Spark on its way out; a
    # terminal's SIGINT reaches the child directly
    signal.signal(signal.SIGTERM, lambda *_: child.send_signal(signal.SIGTERM))
    signal.signal(signal.SIGINT, signal.SIG_IGN)
    code, deadline = None, None
    while True:
        try:
            pid, status = os.waitpid(-1, os.WNOHANG if deadline else 0)
        except ChildProcessError:
            return code if code >= 0 else 128 - code
        if pid == child.pid:
            code = os.waitstatus_to_exitcode(status)
            deadline = time.monotonic() + REAP_GRACE_S
        elif pid == 0:
            if time.monotonic() > deadline:
                for p in children():
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(CHILD_ENV) else supervise(sys.argv[1:]))
