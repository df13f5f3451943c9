"""The traced run: one workload's wall time split into per-layer metrics.

Layer times come from spans the benchmark wraps around the engine's
public entry points (and ``pipeline._failure_census``, the batch's first
action), from marginal costs of cumulative plan prefixes forced with
``write.format("noop")``, from the Spark event log, and from Spark's
Python UDF profiler. The tracing overhead is the traced operation's wall
over an untraced one in the same process."""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import checks, stats, trace
from perfbench.workloads import CorpusCurate, Op


def _have(bench, need_s: float, what: str) -> bool:
    """Whether ``what`` (estimated at ``need_s``) still fits before the
    traced run's deadline. A skipped section is named in the result record
    and counts as a failed operation: its metrics read 0 and its output
    checks did not run, so the result is not correct."""
    left = bench.deadline - time.monotonic()
    if left >= need_s:
        return True
    bench.ctx.log(f"skipping {what}: {left:.0f} s left, it needs about {need_s:.0f} s")
    bench.skipped.append(what)
    return False


def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def prefix_costs(base, specs: list[tuple[str, dict]], reps: int) -> tuple[dict[str, float], float]:
    """Marginal cost per metric name (stages sharing a name add up) and
    the bare-source time, from noop writes of cumulative prefixes, each
    the best of ``reps``. The first stage's output is held in memory and
    the later prefixes start from it, so the first stage's cost (the
    html extraction, or grok) does not add its noise to every later
    difference."""
    from logstash_spark.pipeline import Pipeline

    def best(df) -> float:
        return min(_noop(df) for _ in range(reps))

    def compiled(src, chunk):
        return Pipeline({"id": "prefix", "filters": [s for _, s in chunk]}).compile(src)

    _noop(base)  # untimed: warms the scan
    first = compiled(base, specs[:1])
    timings = [("scan", best(base)), (specs[0][0], best(first))]
    cached = first.persist()
    cached.count()
    rest = [("cached", best(cached))]
    for k in range(1, len(specs)):
        rest.append((specs[k][0], best(compiled(cached, specs[1:k + 1]))))
    cached.unpersist()
    out: dict[str, float] = {}
    for name, v in [*stats.marginals(timings).items(), *stats.marginals(rest).items()]:
        out[name] = out.get(name, 0.0) + v
    return out, timings[0][1]


def dim_mb(df) -> float:
    """In-memory size of a dimension frame as the driver collects it for
    a broadcast (Spark's plan estimate is unknown for these frames)."""
    return float(df.toPandas().memory_usage(deep=True).sum()) / 1e6


def install_engine_spans(tracer: trace.Tracer, spark, extra: dict) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    from logstash_spark import checkpoint, lscl, pipeline, router, streaming

    tracer.wrap(lscl, "to_pipeline_spec", "lscl.parse")
    tracer.wrap(pipeline.Pipeline, "__init__", "pipeline.build")
    tracer.wrap(pipeline.Pipeline, "compile", "pipeline.compile")
    census = pipeline._failure_census

    def rerun_census(args, kwargs, result, span):
        # the persisted batch is filled now: record its size, then time
        # the census aggregation alone over it
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        extra["persist_bytes"] = extra.get("persist_bytes", 0) + sum(
            i.memSize() + i.diskSize() for i in infos)
        with tracer.span("pipeline.census_pass"):
            census(*args, **kwargs)

    # streaming imported the function by name, so both bindings are wrapped
    for module in (pipeline, streaming):
        tracer.wrap(module, "_failure_census", "pipeline.materialize", after=rerun_census)
    tracer.wrap(router.Router, "write_batch", "router.write_batch")
    tracer.wrap(DataFrameWriter, "save",
                lambda self, path=None, *a, **k: "router.sink." + os.path.basename(str(path)))
    tracer.wrap(checkpoint.CheckpointManifest, "ack", "checkpoint.ack")


def eventlog_metrics(bench, t0_epoch: float, t1_epoch: float, wall: float) -> dict:
    rows = int(bench.ctx.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    ev = trace.read_event_log(bench.eventlog_dir, t0_epoch * 1000, t1_epoch * 1000,
                              udf="_extract", arrow_batch_rows=rows)
    bench.ctx.log(f"extract batches from the event log: {ev['py_batches']}")
    return {
        "spark.jobs": ev["jobs"], "spark.tasks": ev["tasks"], "spark.task_s": ev["task_s"],
        "spark.slot_util": ev["task_s"] / (wall * bench.nproc) if wall else 0.0,
        "spark.gc_s": ev["gc_s"], "spark.task_retries": ev["retries"] + ev["failed_tasks"],
        "scan.mb": ev["input_bytes"] / 1e6,
        "pipeline.shuffle_mb": ev["shuffle_write_bytes"] / 1e6,
        "pipeline.shuffle_skew": ev["shuffle_skew"],
        "pipeline.spill_mb": ev["spill_bytes"] / 1e6,
        "extract.py_mb_in": ev["py_bytes_in"] / 1e6,
        "extract.py_mb_out": ev["py_bytes_out"] / 1e6,
        "extract.max_batch_mb": ev["py_max_batch_bytes"] / 1e6,
    }


def sink_metrics(tracer: trace.Tracer, root: trace.Span, run_dir: str, sinks: list[str],
                 rows: dict[str, int], per: float = 1.0) -> dict:
    out = {}
    files = 0
    for s in sinks:
        b, n = checks.sink_bytes(run_dir, [s])
        files += n
        out[f"router.sink.{s}.s"] = tracer.total(f"router.sink.{s}", root) / per
        out[f"router.sink.{s}.rows"] = rows.get(s, 0)
        out[f"router.sink.{s}.mb"] = b / 1e6
    wb = tracer.total("router.write_batch", root)
    out["router.write_batch_s"] = wb / per
    out["router.files"] = files
    out["router.overlap"] = sum(tracer.total(f"router.sink.{s}", root) for s in sinks) / wb if wb else 0.0
    return out


def layer_times(tracer: trace.Tracer, root: trace.Span, per: float = 1.0) -> dict:
    names = {"lscl.parse_s": "lscl.parse", "pipeline.build_s": "pipeline.build",
             "pipeline.compile_s": "pipeline.compile",
             "pipeline.materialize_s": "pipeline.materialize",
             "pipeline.census_pass_s": "pipeline.census_pass", "checkpoint.ack_s": "checkpoint.ack"}
    return {k: tracer.total(v, root) / per for k, v in names.items()}


def to_local1(bench) -> None:
    """Replace the session by a ``local[1]`` one in the same, already warm
    JVM, for the scaling pass."""
    bench.stop_session()
    bench.start_session("local[1]")
    bench.w.prepare(bench.ctx)


def _traced_op(bench, tracer: trace.Tracer, fn, profile: bool):
    spark = bench.ctx.spark
    extra: dict = {}
    install_engine_spans(tracer, spark, extra)
    if profile:
        spark.profile.clear()
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    t_epoch0 = time.time()
    try:
        with tracer.span("op", root=True) as sp:
            out = fn()
    finally:
        tracer.unwrap_all()
        if profile:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
    t_epoch1 = time.time()
    root = next(s for s in tracer.spans if s.id == sp.id)
    return out, root, extra, (t_epoch0, t_epoch1)


def _web(bench, m: dict, ops: list) -> None:
    w, ctx = bench.w, bench.ctx
    for _ in range(2):
        ops.extend(w.run_once(ctx))
    wall_u = statistics.median(o.latency_s for o in ops)
    tracer = trace.Tracer()
    run_dir = os.path.join(ctx.work, w.run_dir)
    # the root span holds the engine call only; the output check runs after it
    res, root, extra, win = _traced_op(bench, tracer, lambda: w._run(ctx, run_dir), profile=True)
    ops.extend(w.checked(ctx, res, root.dur))
    m.update(layer_times(tracer, root))
    m.update(sink_metrics(tracer, root, run_dir, w.sinks,
                          checks.sink_rows(run_dir, w.sinks)))
    m["pipeline.persist_mb"] = extra.get("persist_bytes", 0) / 1e6
    m["trace.closure"] = trace.closure(tracer, root)
    m["trace.overhead"] = root.dur / wall_u
    m.update(eventlog_metrics(bench, *win, root.dur))
    prof = os.path.join(ctx.work, "profile")
    shutil.rmtree(prof, ignore_errors=True)
    ctx.spark.profile.dump(prof, type="perf")
    m["extract.udf_s"], m["extract.arrow_batches"] = trace.udf_profile(prof, "extract_series")
    tracer.dump(os.path.join(ctx.work, "spans-web_fatpages.jsonl"))

    m["enrich.broadcast_mb"] = sum(dim_mb(d) for d in w.dims)
    if _have(bench, 45, "web stage prefixes"):
        base, specs = w.stage_specs(ctx)
        costs, scan_s = prefix_costs(base, specs, reps=2)
        m.update(costs)
        m["scan.s"] = scan_s
    if _have(bench, 40, "web scaling pass"):
        to_local1(bench)
        one = w.run_once(ctx)
        ops.extend(one)
        m["spark.scaling_eff"] = one[0].latency_s / (bench.nproc * wall_u)
    t_corpus = time.monotonic()
    if _have(bench, 45, "corpus layers"):
        bench.stop_session()
        bench.start_session(f"local[{bench.nproc}]", traced=True)
        _corpus(bench, m, ops)
    ctx.log(f"corpus layers took {time.monotonic() - t_corpus:.1f} s")


def _stream(bench, m: dict, ops: list) -> None:
    from pyspark.sql import functions as F

    w, ctx = bench.w, bench.ctx
    t0 = time.monotonic()
    _, wall_u = w.stream_round(ctx, w.lines_dir, os.path.join(ctx.work, "run_stream_u"))
    tracer = trace.Tracer()
    run_dir = os.path.join(ctx.work, "run_stream")
    (q, _), root, extra, win = _traced_op(
        bench, tracer, lambda: w.stream_round(ctx, w.lines_dir, run_dir), profile=False)
    progress = w.batches(q)
    nb = max(len(progress), 1)
    dur = [p.durationMs for p in progress]
    med = lambda k: statistics.median([d.get(k, 0) for d in dur]) / 1000 if dur else 0.0  # noqa: E731
    m["streaming.add_batch_s"] = med("addBatch")
    m["streaming.query_planning_s"] = med("queryPlanning")
    m["streaming.wal_commit_s"] = med("walCommit")
    m["streaming.commit_s"] = med("commitOffsets")
    m["streaming.overhead_s"] = statistics.median(
        [d["triggerExecution"] - d.get("addBatch", 0) for d in dur]) / 1000 if dur else 0.0
    m.update(layer_times(tracer, root, per=nb))
    rows = checks.sink_rows(run_dir, w.sinks)
    m.update(sink_metrics(tracer, root, run_dir, w.sinks, rows, per=nb))
    m["pipeline.persist_mb"] = extra.get("persist_bytes", 0) / 1e6 / nb
    ev = eventlog_metrics(bench, *win, root.dur)
    # the Python hop here is the geoip lookup, not html extraction
    for k in ("extract.py_mb_in", "extract.py_mb_out", "extract.max_batch_mb"):
        ev.pop(k)
    m.update(ev)
    m["streaming.jobs_per_batch"] = ev["spark.jobs"] / nb
    inside = sum(tracer.total(n, root) for n in ("pipeline.compile", "pipeline.materialize",
                                                 "pipeline.census_pass", "router.write_batch"))
    trig = sum(d["triggerExecution"] for d in dur) / 1000
    outside = sum(d["triggerExecution"] - d.get("addBatch", 0) for d in dur) / 1000
    m["trace.closure"] = (inside + outside) / trig if trig else 0.0
    m["trace.overhead"] = root.dur / wall_u
    problems = checks.apache_check(run_dir, w.expected, rows)
    if len(progress) != w.files:
        problems.append(f"{len(progress)} micro-batches, expected {w.files}")
    # apache_route on the same lines: both sides must land the regex counts
    problems += ["apache_route reference: " + p for p in w.reference_check(ctx)]
    ops.append(Op(root.dur, w.events, w.payload, 0, not problems, problems))
    tracer.dump(os.path.join(ctx.work, "spans-stream_microbatch.jsonl"))

    # the apache_route part: one big batch of lines for the ratios, the
    # stage prefixes and the scaling pass
    m["enrich.broadcast_mb"] = sum(dim_mb(d) for d in w.dims)
    if _have(bench, 50, "apache_route batch"):
        batch_dir = w.stage_batch(ctx)
        row = w.pipeline().compile(ctx.spark.read.parquet(batch_dir)).agg(
            F.count(F.lit(1)).alias("n"), F.count("clientip").alias("parsed"),
            F.count("event_ts").alias("dated")).collect()[0]
        m["grok.match_ratio"] = row["parsed"] / row["n"]
        m["date.parse_ratio"] = row["dated"] / row["parsed"] if row["parsed"] else 0.0
        base, specs = w.stage_specs(ctx, batch_dir)
        costs, scan_s = prefix_costs(base, specs, reps=2)
        m.update(costs)
        m["scan.s"] = scan_s
        batch_run = os.path.join(ctx.work, "run_batch")
        t_batch = time.monotonic()
        res = w.batch_run(ctx, batch_dir, batch_run)
        wall_b = time.monotonic() - t_batch
        problems = ["apache_route: " + p for p in checks.apache_check(
            batch_run, checks.apache_expected(batch_dir), res.sinks)]
        ops.append(Op(wall_b, w.batch_lines, 0, 0, not problems, problems))
        if _have(bench, 30, "apache_route scaling pass"):
            to_local1(bench)
            t_batch = time.monotonic()
            w.batch_run(ctx, batch_dir, batch_run)
            m["spark.scaling_eff"] = (time.monotonic() - t_batch) / (bench.nproc * wall_b)
    ctx.log(f"stream layers took {time.monotonic() - t0:.1f} s")


def _corpus(bench, m: dict, ops: list) -> None:
    """The datapipe layers over a seeded corpus. Their functions build
    lazy plans (minhash also runs its candidate join eagerly), so spans
    around them would time plan building only: their costs come from
    cumulative prefixes of the curation chain instead."""
    from pyspark.sql import functions as F

    from logstash_spark.datapipe import dedup, pii, textstats

    ctx = bench.ctx
    w = CorpusCurate()
    w.stage(ctx)
    w.prepare(ctx)
    w.warmup(ctx)
    docs = ctx.spark.read.parquet(w.docs_dir).select("doc_id", "text")
    _noop(docs)
    prefix = [("scan", _noop(docs))]
    for k, name in ((1, "datapipe.pii.s"), (2, "datapipe.minhash.s")):
        t0 = time.monotonic()
        df = w.chain(docs, k)  # minhash runs its candidate join while building
        prefix.append((name, time.monotonic() - t0 + _noop(df)))
    m.update(stats.marginals(prefix))
    # the later steps are timed over the minhash output held in memory,
    # so the expensive minhash join is not repeated for each prefix
    kept = df.persist()
    kept.count()
    dedup.release_dedup_caches()
    lined = dedup.dedup_lines(kept)
    curated = textstats.text_quality_stats(lined)
    m.update(stats.marginals([("cached", _noop(kept)), ("datapipe.dedup_lines.s", _noop(lined)),
                              ("datapipe.textstats.s", _noop(curated))]))
    t0 = time.monotonic()
    row = curated.agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_lines").alias("lines"),
        F.sum("n_removed").alias("removed"), F.sum("n_tokens").alias("tokens"),
        F.sum("pii_total_count").alias("pii")).collect()[0]
    res = {k: int(row[k] or 0) for k in row.asDict()}
    problems = ["corpus: " + p for p in checks.corpus_check(res, w.expected)]
    ops.append(Op(time.monotonic() - t0, w.events, w.payload, 0, not problems, problems))
    kept.unpersist()
    m["datapipe.dedup_lines.removed_ratio"] = res["removed"] / res["lines"]
    scrubbed = pii.scrub_pii(docs)
    cands = dedup.minhash_lsh_candidates(scrubbed).persist()
    n_cand = cands.count()
    verified = dedup.jaccard_verify(scrubbed, cands).count()
    cands.unpersist()
    m["datapipe.minhash.candidates"] = n_cand
    m["datapipe.minhash.verified_ratio"] = verified / n_cand if n_cand else 0.0


def run(bench) -> dict:
    from perfbench.run import PER_LAYER

    w, ctx = bench.w, bench.ctx
    m: dict = {}
    shutil.rmtree(os.path.join(ctx.work, "eventlog"), ignore_errors=True)
    t0 = time.monotonic()
    w.stage(ctx)
    m["datagen.stage_s"] = time.monotonic() - t0
    m["session.start_s"] = bench.start_session(f"local[{bench.nproc}]", traced=True)
    t0 = time.monotonic()
    w.prepare(ctx)
    m["flagship.dims_s"] = time.monotonic() - t0
    w.warmup(ctx)
    ops: list[Op] = []
    {"web_fatpages": _web, "stream_microbatch": _stream}[w.name](bench, m, ops)
    ops += [Op(0.0, 0, 0, 0, False, [f"skipped {s}: the traced run ran out of time"])
            for s in bench.skipped]
    failed = sum(not o.ok for o in ops)
    problems = [p for o in ops for p in o.problems]
    return bench.result(m, PER_LAYER, max(len(ops), 1), failed,
                        {"problems": problems[:20]})
