"""sparklog benchmark entry point.

    python3 perfbench/run.py --workload web_fatpages --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
of one workload; ``--trace 1`` makes the separate traced run and prints
the per-layer metrics. The last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the
run writes goes under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = [
    ("setup_s", "s"), ("events_per_s", "1/s"), ("input_mb_per_s", "MB/s"),
    ("batch_p50_s", "s"), ("batch_tail_s", "s"), ("peak_rss_mb", "MB"),
    ("cpu_ms_per_kevent", "ms"), ("sink_bytes_per_event", "B"),
]

SINK_NAMES = ["sink_en", "sink_i18n", "sink_highvalue", "status_2xx", "status_3xx",
              "status_4xx", "status_5xx", "dead_letter"]

PER_LAYER = [
    ("session.start_s", "s"), ("datagen.stage_s", "s"), ("flagship.dims_s", "s"),
    ("scan.s", "s"), ("scan.mb", "MB"),
    ("extract.s", "s"), ("extract.udf_s", "s"), ("extract.py_mb_in", "MB"),
    ("extract.py_mb_out", "MB"), ("extract.arrow_batches", "count"),
    ("extract.max_batch_mb", "MB"),
    ("stages.parse_url.s", "s"), ("stages.synth_ip.s", "s"), ("stages.tld.s", "s"),
    ("stages.translate.s", "s"), ("stages.fingerprint.s", "s"), ("stages.mutate.s", "s"),
    ("stages.grok.s", "s"), ("grok.match_ratio", "ratio"), ("stages.date.s", "s"),
    ("date.parse_ratio", "ratio"), ("stages.geoip.s", "s"), ("stages.useragent.s", "s"),
    ("enrich.broadcast_mb", "MB"),
    ("lscl.parse_s", "s"), ("pipeline.build_s", "s"), ("pipeline.compile_s", "s"),
    ("pipeline.materialize_s", "s"), ("pipeline.census_pass_s", "s"),
    ("pipeline.shuffle_mb", "MB"), ("pipeline.shuffle_skew", "ratio"),
    ("pipeline.persist_mb", "MB"), ("pipeline.spill_mb", "MB"),
    ("router.write_batch_s", "s"),
    *[(f"router.sink.{s}.{k}", u) for s in SINK_NAMES
      for k, u in (("s", "s"), ("rows", "count"), ("mb", "MB"))],
    ("router.files", "count"), ("router.overlap", "ratio"),
    ("checkpoint.ack_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.query_planning_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.overhead_s", "s"), ("streaming.jobs_per_batch", "count"),
    ("datapipe.pii.s", "s"), ("datapipe.dedup_lines.s", "s"),
    ("datapipe.dedup_lines.removed_ratio", "ratio"), ("datapipe.minhash.s", "s"),
    ("datapipe.minhash.candidates", "count"), ("datapipe.minhash.verified_ratio", "ratio"),
    ("datapipe.textstats.s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.slot_util", "ratio"), ("spark.gc_s", "s"), ("spark.task_retries", "count"),
    ("spark.scaling_eff", "ratio"),
    ("trace.closure", "ratio"), ("trace.overhead", "ratio"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def source_digest() -> str:
    """Commit when the checkout is a git repository, else a digest of the
    engine's sources, so a result names the code it measured."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                return open(p).read().strip()
        else:
            return ref
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "logstash_spark")
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                h.update(open(os.path.join(d, f), "rb").read())
    return "src-" + h.hexdigest()[:16]


# a traced run skips a remaining section rather than pass this many
# seconds after process start (runs must end within 180 s); a skipped
# section counts as a failed operation
TRACE_DEADLINE_S = 160


class Bench:
    def __init__(self, args):
        from perfbench import host
        from perfbench.workloads import WORKLOADS, Ctx

        self.args = args
        self.work = os.path.join(ROOT, ".bench_work")
        self.nproc = len(os.sched_getaffinity(0))
        mem = host.meminfo_kb()
        self.mem_total_mb = mem["MemTotal"] // 1024
        self.heap_mb = host.driver_heap_mb(mem["MemTotal"])
        self.ctx = Ctx(work=self.work, seed=args.seed, nproc=self.nproc, log=log)
        self.w = WORKLOADS[args.workload]()
        self.cpu0 = host.read_cpu_ticks()
        self.deadline = T_PROCESS + TRACE_DEADLINE_S
        self.skipped: list[str] = []

    # ---------------------------------------------------------- session
    def start_session(self, master: str, traced: bool = False) -> float:
        from logstash_spark.session import get_spark

        t0 = time.monotonic()
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # the heap starts at its full size, so timed runs do not pay
            # for heap growth
            "spark.driver.extraJavaOptions":
                f"-Xms{self.heap_mb}m -Dderby.system.home={self.work} "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.eventLog.enabled": str(traced).lower(),
        }
        if traced:
            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({"spark.eventLog.dir": "file://" + self.eventlog_dir,
                         "spark.eventLog.compress": "false"})
        self.ctx.spark = get_spark("perfbench", master=master, extra_conf=conf)
        self.ctx.spark.sparkContext.setLogLevel("ERROR")
        return time.monotonic() - t0

    def stop_session(self) -> None:
        if self.ctx.spark is not None:
            self.ctx.spark.stop()
            self.ctx.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait until every child has ended."""
        from perfbench import host

        self.stop_session()
        try:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    proc.wait(timeout=30)
        except Exception as e:  # noqa: BLE001 - shutdown must go on to the reaper
            log(f"gateway shutdown: {e!r}")
        deadline = time.monotonic() + 30
        while host.descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in host.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while host.descendants(os.getpid()) and time.monotonic() < deadline + 10:
            time.sleep(0.2)

    def setup_once(self) -> float:
        t0 = time.monotonic()
        self.start_session(f"local[{self.nproc}]")
        self.w.prepare(self.ctx)
        self.w.warmup(self.ctx)
        return time.monotonic() - t0

    def host_record(self) -> dict:
        from perfbench import host

        import pyspark

        spark = self.ctx.spark
        java = spark.sparkContext._jvm.System.getProperty("java.version") if spark else "?"
        return {"commit": source_digest(), "cpus": self.nproc, "ram_mb": self.mem_total_mb,
                "driver_heap_mb": self.heap_mb,
                "steal": round(host.steal_share(self.cpu0, host.read_cpu_ticks()), 4),
                "pyspark": pyspark.__version__, "java": java}

    # ----------------------------------------------------- end to end
    def end_to_end(self) -> dict:
        from perfbench import host, stats
        from perfbench.workloads import Op

        t_stage = time.monotonic()
        self.w.stage(self.ctx)
        stage_s = time.monotonic() - t_stage
        # set-up is timed from process start with staging left out; one
        # set-up per run (each costs a cold JVM and a cold first pipeline
        # run), and the median over runs steadies it
        setup_s = self.setup_once() + (t_stage - T_PROCESS)

        sampler = host.TreeSampler().start()
        ops: list[Op] = []
        peaks: list[int] = []
        cpu_s = 0.0
        measured = 0.0
        while measured < self.args.seconds:
            t0 = time.monotonic()
            cpu_before = sampler.begin()
            try:
                new = self.w.run_once(self.ctx)
            except Exception as e:  # noqa: BLE001 - a raising run is a failed operation
                log(f"operation raised: {e!r}")
                new = [Op(time.monotonic() - t0, 0, 0, 0, False, [repr(e)])]
            peak, cpu = sampler.end(cpu_before)
            peaks.append(peak)
            cpu_s += cpu
            ops.extend(new)
            measured += sum(o.latency_s for o in new)
        sampler.stop()
        problems = [p for o in ops for p in o.problems]
        good = [o for o in ops if o.ok] or ops
        lat = [o.latency_s for o in good]
        events = sum(o.events for o in good)
        tail, pct, n = stats.tail(lat)
        metrics = {
            "setup_s": setup_s,
            "events_per_s": statistics.median([o.events / o.latency_s for o in good]),
            "input_mb_per_s": statistics.median([o.payload_bytes / 1e6 / o.latency_s for o in good]),
            "batch_p50_s": statistics.median(lat),
            "batch_tail_s": tail,
            # the median over runs of each run's peak: one late GC cycle
            # must not set the whole reading
            "peak_rss_mb": statistics.median(peaks) / 2**20,
            "cpu_ms_per_kevent": cpu_s * 1000 / max(events / 1000, 1e-9),
            "sink_bytes_per_event": sum(o.sink_bytes for o in good) / max(events, 1),
        }
        failed = sum(not o.ok for o in ops)
        info = {"stage_s": stage_s, "latencies_s": [round(o.latency_s, 4) for o in ops],
                "tail_percentile": pct,
                "batches": n, "failed_fraction": failed / len(ops), "problems": problems[:20]}
        return self.result(metrics, END_TO_END, len(ops), failed, info)

    def result(self, metrics: dict, names, attempted: int, failed: int, info: dict) -> dict:
        rec = {"workload": self.args.workload, "seed": self.args.seed,
               "trace": self.args.trace, "host": self.host_record(), **info,
               "skipped": self.skipped,
               "metrics": metrics}
        with open(os.path.join(self.work, f"result-{self.args.workload}-s{self.args.seed}"
                               f"-t{self.args.trace}.json"), "w") as f:
            json.dump(rec, f, indent=1, default=str)
        print(json.dumps({k: v for k, v in rec.items() if k != "metrics"}, default=str))
        return {
            "correct": failed == 0 and not info.get("problems"),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in names},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "logstash_spark", "__init__.py")):
        log(f"no logstash_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    if args.seconds <= 0:
        log("--seconds must be positive")
        return 2
    work = os.path.join(ROOT, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temporary file Spark, Python workers and DuckDB make
    # inside the checkout
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
                       # spark-submit's launcher JVM would write /tmp/hsperfdata_*
                       "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData"})
    tempfile.tempdir = tmp
    bench = Bench(args)
    os.environ["SPARK_GRAFT_CPUS"] = str(bench.nproc)
    try:
        if args.trace:
            from perfbench import traced

            out = traced.run(bench)
        else:
            out = bench.end_to_end()
    finally:
        bench.shutdown()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
