"""KG-build benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload transcript_build --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout (the directory holding ``pyld_spark``).
The run generates its inputs from ``--seed``, sets Spark up (``setup_s``),
repeats the workload's job until ``--seconds`` of job time have been
measured, checks every job's output, and prints as its last line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates plain
and traced jobs and reports the per-layer metrics (see README.md).
The benchmark's files go under ``.perfbench_work/`` in the checkout; Spark's
local dirs and the worker zip stay where the program puts them (README.md).
"""

from __future__ import annotations

import argparse
import gc
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["transcript_build", "jsonld_corpus"]
#: documents of the in-process JSON-LD kernel sample (traced jsonld_corpus)
KERNEL_SAMPLE = 200
#: jobs run before timing starts; the JIT is still warming during the first
#: two (passes 2-6 of one transcript_build run on 4 vCPUs: 12.5, 11.4, 9.9,
#: 9.5, 9.6 s)
WARMUP_PASSES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", default="full", choices=["full", "smoke"])
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Keep the benchmark's temp files inside ``work`` and size Spark to the
    machine: ``local[nproc]`` and a driver heap below physical memory.
    Spark's local dirs are left to ``get_spark`` (a ramdisk where there is
    one), so an inherited ``SPARK_LOCAL_DIRS`` must not override them."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    driver_mb = min(2048, mem_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Djava.io.tmpdir={tmp} "
                                "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    for var in ("PYLD_SPARK_COMPILED_DOCS", "SPARK_LOCAL_DIRS"):
        os.environ.pop(var, None)
    return {"cpus": cpus, "mem_mb": mem_mb, "driver_memory_mb": driver_mb}


def source_digest() -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(ROOT, "pyld_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


# -- process memory -------------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for path in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(path) as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PeakRss:
    """Driver JVM plus the largest Python worker, as ``VmHWM``; reset per job
    through ``clear_refs``."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid

    def reset(self) -> None:
        for pid in [self.jvm] + _descendants(self.jvm):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def read(self) -> float:
        workers = [_hwm_mb(p) for p in _descendants(self.jvm)]
        return _hwm_mb(self.jvm) + max(workers, default=0.0)


# -- the run --------------------------------------------------------------------

def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share the hypervisor gave to
    other guests explains slow jobs on a shared host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def start_spark():
    from pyspark import SparkContext

    from pyld_spark.session import ensure_workers_can_import, get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    ensure_workers_can_import(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SparkContext._gateway, {"get_spark_s": t1 - t0,
                                          "ensure_workers_can_import_s": t2 - t1}


def setup(workload: str, inp, work: str):
    """get_spark + ensure_workers_can_import + warm-up passes of the
    workload's job on its input (JVM JIT, Python-worker spin-up)."""
    import jobs

    spark, gateway, times = start_spark()
    times["warmup_s"] = sum(jobs.run_job(spark, workload, inp, os.path.join(work, "warm_out"))[0]
                            for _ in range(WARMUP_PASSES))
    times["setup_s"] = sum(times.values())
    return spark, gateway, times


def kernel_sample(inp) -> dict:
    """The ``jsonld`` layer: the in-process kernel on one core over a fixed
    seeded sample of the corpus, timed around each module call."""
    import random

    from pyld_spark.jsonld import expand as jexpand
    from pyld_spark.jsonld import rdf
    from pyld_spark.jsonld.canon import canonize_quads
    from pyld_spark.jsonld.context import DEFAULT_BASE_IRI, initial_context, process_context

    rng = random.Random(inp.seed + 3)
    ids = sorted(set(inp.docs) - inp.invalid)
    docs = [json.loads(inp.docs[d]) for d in rng.sample(ids, min(KERNEL_SAMPLE, len(ids)))]
    t = dict.fromkeys(("process_context_s", "expand_s", "to_rdf_s", "canonize_s"), 0.0)
    quads_n = 0
    for doc in docs:
        body = {k: v for k, v in doc.items() if k != "@context"}
        t0 = time.perf_counter()
        ctx = process_context(initial_context(base=DEFAULT_BASE_IRI), doc["@context"], None)
        t1 = time.perf_counter()
        expanded = jexpand.expand(body, context=ctx, context_preapplied=True)
        t2 = time.perf_counter()
        quads = rdf.to_rdf(expanded)
        t3 = time.perf_counter()
        canonize_quads(quads)
        t4 = time.perf_counter()
        quads_n += len(quads)
        for k, a, b in (("process_context_s", t0, t1), ("expand_s", t1, t2),
                        ("to_rdf_s", t2, t3), ("canonize_s", t3, t4)):
            t[k] += b - a
    busy = t["process_context_s"] + t["expand_s"] + t["to_rdf_s"]
    t["quads_per_core_s"] = quads_n / busy if busy else 0.0
    return {f"jsonld.{k}": v for k, v in t.items()}


def path_report(spark, workload: str, inp, out: str) -> dict:
    """Counts read from a traced job's committed outputs: how much work each
    layer did, and how many documents and blank nodes could need the exact
    canonicalization fallback. Which path the program took is observed by
    the tracer instead (``Run.traced``)."""
    from pyspark.sql import functions as F

    import jobs
    from pyld_spark.operators.canonicalize import first_degree_hashes
    from pyld_spark.operators.expand_stage import split_quarantine

    def rp(*p):
        return spark.read.parquet(os.path.join(out, *p))

    m: dict = {}
    if workload == "jsonld_corpus":
        combined = rp("triples")
        m["expand_stage.quarantined_docs"] = rp("quarantine").count()
    else:
        combined = rp("triples").withColumn("error_code", F.lit(None).cast("string"))
        q = os.path.join(out, "triples_quarantine")
        m["expand_stage.quarantined_docs"] = (spark.read.parquet(q).count()
                                              if os.path.exists(q) else 0)
        docs = rp("assemble").agg(F.count("*").alias("n"), F.sum(F.octet_length("doc")).alias("b"),
                                  F.max(F.octet_length("doc")).alias("mx")).collect()[0]
        m["transcripts.docs_out"] = docs.n
        m["transcripts.doc_bytes_out"] = docs.b
        m["transcripts.max_doc_bytes"] = docs.mx
        m["linking.mentions_out"] = rp("link").count()
        m["linking.entities_out"] = rp("entities").count()
        m["pipeline.bytes_written"] = jobs.dir_bytes(out)
    good, _ = split_quarantine(combined)
    m["expand_stage.triples_out"] = good.count()
    m["expand_stage.docs_in"] = combined.select("doc_id").distinct().count()
    fd = first_degree_hashes(good)
    m["canonicalize.bnodes"] = fd.count()
    amb = (fd.groupBy("doc_id", "fd_hash").count().where("count > 1")
           .select("doc_id").distinct())
    m["canonicalize.ambiguous_docs"] = amb.count()
    if workload == "jsonld_corpus":
        m["gadget_bnodes"] = fd.where(F.col("doc_id").isin(sorted(inp.gadgets))).count()
    return m


def readback_report(spark, out: str) -> dict:
    import jobs

    def count(p):
        return spark.read.parquet(os.path.join(out, p)).count()

    return {"nquads_io.nquads_bytes": jobs.dir_bytes(os.path.join(out, "nquads")),
            "nquads_io.lines": count("triples"), "fromrdf_stage.docs_out": count("docs"),
            "frame_stage.nodes_matched": count("framed"), "kg_query.rows_out": count("bgp")}


class Run:
    """One benchmark run: Spark is set up, then jobs repeat for ``seconds``."""

    def __init__(self, args, spark, machine: dict, inp, work: str):
        self.args, self.spark, self.machine, self.inp, self.work = args, spark, machine, inp, work
        self.out = os.path.join(work, "out")
        self.attempted = self.failed = 0
        self.failures: list = []
        self.walls, self.rates, self.peaks, self.per_triple = [], [], [], []
        self.traced_walls: list = []
        self.summaries: list = []

    def checked(self, bad: list) -> None:
        self.attempted += 1
        if bad:
            self.failed += 1
            self.failures += bad

    def settle(self) -> None:
        """Start every job from the same memory state: a full GC in the
        driver JVM (G1 then returns free heap to the OS) and in Python."""
        self.spark._jvm.System.gc()
        gc.collect()

    def plain(self, rss: PeakRss) -> float:
        import jobs

        self.settle()
        rss.reset()
        steal0, total0 = cpu_times()
        wall, res = jobs.run_job(self.spark, self.args.workload, self.inp, self.out)
        steal1, total1 = cpu_times()
        peak = rss.read()
        t0 = time.perf_counter()
        bad = jobs.check(self.spark, self.args.workload, self.inp, self.out)
        check_s = time.perf_counter() - t0
        self.checked(bad)
        self.walls.append(wall)
        self.rates.append(res["triples"] / wall)
        self.peaks.append(peak)
        self.per_triple.append(jobs.dir_bytes(res["out"]) / res["triples"])
        print(json.dumps({"job": self.args.workload, "wall_s": wall, "peak_rss_mb": peak,
                          "triples": res["triples"], "check_s": check_s,
                          "steal_share": (steal1 - steal0) / max(1, total1 - total0),
                          "failures": bad}), flush=True)
        return wall

    def traced(self) -> float:
        """The workload's job with spans on every layer; on transcript_build
        also the delta append and the read side of the committed graph."""
        import jobs
        import tracing

        spark, inp, workload = self.spark, self.inp, self.args.workload
        self.settle()
        tracer = tracing.Tracer(spark)
        saved = tracing.instrument(tracer)
        rb_out = os.path.join(self.work, "out_readback")
        delta_out = os.path.join(self.work, "out_delta")
        try:
            wall = jobs.run_job(spark, workload, inp, self.out)[0]
            if workload == "transcript_build":
                shutil.rmtree(rb_out, ignore_errors=True)
                jobs.kg_readback(spark, os.path.join(self.out, "materialize"), rb_out)
                shutil.rmtree(delta_out, ignore_errors=True)
                shutil.copytree(self.out, delta_out)
                jobs.delta_append(spark, inp, delta_out)
        finally:
            tracing.restore(saved)
        self.checked(jobs.check(spark, workload, inp, self.out))
        summary = tracer.summary(self.machine["cpus"])
        summary["expand_stage.python_plan_nodes"] = tracer.plan_nodes.get("docs_to_triples", 0)
        summary.update(path_report(spark, workload, inp, self.out))
        # the path the program took: rows its exact-fallback UDF returned
        exact_nodes, exact = tracer.plan_node_rows("canonical_labels", "FlatMapGroupsInPandas")
        summary["canonicalize.exact_labels"] = exact
        summary["canonicalize.exact_share"] = exact / max(1, summary["canonicalize.bnodes"])
        path = {"python_plan_nodes": summary["expand_stage.python_plan_nodes"],
                "exact_plan_nodes": exact_nodes, "exact_labels": exact,
                "ambiguous_docs": summary["canonicalize.ambiguous_docs"],
                "gadget_bnodes": summary.pop("gadget_bnodes", 0)}
        if workload == "transcript_build":
            self.checked(jobs.check_readback(spark, inp, os.path.join(self.out, "materialize"),
                                             rb_out))
            self.checked(jobs.check_delta(spark, inp, delta_out))
            summary.update(readback_report(spark, rb_out))
            delta = jobs.lineage(spark, delta_out)["assemble+delta"]
            summary["pipeline.delta_docs"] = delta.rows_out
        # the pipeline's self time: its spans minus the stage spans inside them
        summary["pipeline.checkpoint_overhead_s"] = summary["pipeline.self_s"]
        print(json.dumps({"trace": {"run": tracer.run_id, "build_wall_s": wall, "path": path,
                                    "spans": [[s["name"], s["layer"], s["parent"],
                                               s["start"], s["end"]] for s in tracer.spans]}}),
              flush=True)
        self.summaries.append(summary)
        self.traced_walls.append(wall)
        return wall

    def measure(self, rss: PeakRss) -> None:
        """Jobs until ``--seconds`` of job time; with ``--trace 1`` every
        second job is traced, and at least one of each kind runs."""
        measured = 0.0
        min_jobs = 1 + self.args.trace
        while len(self.walls) + len(self.traced_walls) < min_jobs or (
                measured < self.args.seconds):
            if self.args.trace and len(self.walls) > len(self.traced_walls):
                measured += self.traced()
            else:
                measured += self.plain(rss)

    def metrics(self, setup_times: dict) -> dict:
        if not self.args.trace:
            return {
                "wall_s": (median(self.walls), "s"),
                "triples_per_s": (median(self.rates), "triples/s"),
                "setup_s": (setup_times["setup_s"], "s"),
                "stored_bytes_per_triple": (median(self.per_triple), "B"),
            }
        values: dict = {}
        for s in self.summaries:
            for k, v in s.items():
                if isinstance(v, (int, float)):
                    values.setdefault(k, []).append(v)
        got = {k: median(v) for k, v in values.items()}
        got.update({f"session.{k}": v for k, v in setup_times.items()})
        got["session.peak_rss_mb"] = median(self.peaks)
        if self.args.workload == "jsonld_corpus":
            got.update(kernel_sample(self.inp))
        got["trace.overhead_s"] = median(self.traced_walls) - median(self.walls)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer"]
        return {m["name"]: (got.get(m["name"], 0), m["unit"]) for m in spec}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pyld_spark", "plans", "pipeline.py")):
        print(f"perfbench: no pyld_spark source tree next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    machine = pin_environment(work)
    sys.path[:0] = [ROOT, HERE]

    import pyarrow
    import pyspark

    import jobs

    inp = jobs.Inputs(args.workload, args.seed, args.size, os.path.join(work, "in"))
    print(json.dumps({"env": {
        "source_sha256": source_digest(), "seed": args.seed, "workload": args.workload,
        "size": args.size, "sizes": jobs.SIZES[args.workload][args.size], **machine,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": platform.python_version(), "trace": args.trace,
    }, "inputs": inp.props}), flush=True)

    spark, gateway, setup_times = setup(args.workload, inp, work)
    try:
        run = Run(args, spark, machine, inp, work)
        run.measure(PeakRss(gateway.proc.pid))
        metrics = run.metrics(setup_times)
    finally:
        stop(spark, gateway)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # kept while another workload's run uses it
    except OSError:
        pass
    for f in run.failures:
        print(f"perfbench: output check failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop(spark, gateway) -> None:
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    proc = gateway.proc
    pids = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
