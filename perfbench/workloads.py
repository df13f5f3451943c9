"""The benchmark's workloads. Each one stages seeded inputs, prepares a
session (dimension frames, pipeline spec), runs one operation at a time
through the engine's public entry points, and checks each operation's
output. ``WORKLOADS.md`` says why each workload exists."""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

from perfbench import checks, stage


@dataclass
class Op:
    """One measured operation: a pipeline run, a curation pass, or a
    micro-batch of a streaming query."""
    latency_s: float
    events: int
    payload_bytes: int
    sink_bytes: int
    ok: bool
    problems: list[str] = field(default_factory=list)


@dataclass
class Ctx:
    work: str
    seed: int
    nproc: int
    spark: object = None
    log: object = print


def _payload(path: str, column: str) -> int:
    """Uncompressed payload bytes of one column of a staged directory."""
    con = duckdb.connect()
    size = "octet_length" if column == "html" else "strlen"  # strlen counts utf-8 bytes
    return int(con.execute(
        f"SELECT sum({size}({column}))::BIGINT FROM read_parquet('{path}/*.parquet')"
    ).fetchone()[0])


class WebFatpages:
    name = "web_fatpages"
    pages = 2400
    mean_paras = 52
    sinks = checks.WEB_SINKS

    def stage(self, ctx: Ctx) -> None:
        self.pages_dir = stage.staged(
            os.path.join(ctx.work, "stage"), f"pages-s{ctx.seed}-n{self.pages}",
            lambda d: stage.write_parts(stage.gen_pages(ctx.seed * 7, self.pages, self.mean_paras),
                                        d, ctx.nproc))
        self.payload = _payload(self.pages_dir, "html")

    def prepare(self, ctx: Ctx) -> None:
        from logstash_spark import flagship

        pipe = flagship.flagship_pipeline(ctx.spark)
        dims = {k: v for f in pipe.filter_specs for conf in f.values() if isinstance(conf, dict)
                for k, v in conf.items() if k.endswith("_df")}
        self.dims = list(dims.values())
        # written on every set-up: the expected counts follow this
        # checkout's dictionary, not one an earlier checkout left behind
        self.dict_path = os.path.join(ctx.work, "domain_dict.parquet")
        dims["dictionary_df"].toPandas().to_parquet(self.dict_path)
        self.expected = checks.web_expected(self.pages_dir, self.dict_path)

    def _run(self, ctx: Ctx, run_dir: str):
        from logstash_spark import flagship

        return flagship.run_flagship(ctx.spark, ctx.spark.read.parquet(self.pages_dir), run_dir,
                                     n_buckets=2 * ctx.nproc)

    def warmup(self, ctx: Ctx) -> None:
        # full-size runs: run times keep falling over the first runs of a
        # fresh JVM (JIT), and a smaller warm-up leaves that to the timed runs
        for _ in range(2):
            self._run(ctx, os.path.join(ctx.work, "run_warm"))

    run_dir = "run_web"

    def run_once(self, ctx: Ctx) -> list[Op]:
        run_dir = os.path.join(ctx.work, self.run_dir)
        t0 = time.monotonic()
        m = self._run(ctx, run_dir)
        return self.checked(ctx, m, time.monotonic() - t0)

    def checked(self, ctx: Ctx, m, latency_s: float) -> list[Op]:
        """The run's operation, with its output checked."""
        run_dir = os.path.join(ctx.work, self.run_dir)
        problems = checks.web_check(self.pages_dir, run_dir, self.expected, m.sinks)
        if m.events_in != self.pages:
            problems.append(f"events_in {m.events_in} != {self.pages}")
        return [Op(latency_s, self.pages, self.payload, checks.sink_bytes(run_dir, self.sinks)[0],
                   not problems, problems)]

    def stage_specs(self, ctx: Ctx):
        """(base frame, [(metric, filter spec)]) for the prefix timings."""
        from logstash_spark import flagship

        pipe = flagship.flagship_pipeline(ctx.spark)
        names = {"extract_text": "extract.s", "parse_url": "stages.parse_url.s",
                 "tld": "stages.tld.s", "synth_ip": "stages.synth_ip.s",
                 "geoip": "stages.geoip.s", "useragent": "stages.useragent.s",
                 "translate": "stages.translate.s", "fingerprint": "stages.fingerprint.s",
                 "mutate": "stages.mutate.s"}
        specs = [(names[next(iter(f))], f) for f in pipe.filter_specs]
        return flagship.prepare_pages(ctx.spark.read.parquet(self.pages_dir)), specs


# The apache pipeline as a logstash.conf: the status class picks the sink,
# and 5xx lines also get a tag through a conditional mutate.
APACHE_CONF = r"""
filter {
  grok { match => { "message" => "%{COMBINEDAPACHELOG}" } }
  date { match => ["timestamp", "dd/MMM/yyyy:HH:mm:ss Z"] target => "event_ts" }
  geoip { source => "clientip" strategy => "binary_search" }
  useragent { source => "agent" }
  if [response] =~ /^5/ {
    mutate { add_field => { "status_class" => "5xx" } add_tag => ["server_error"] }
  } else if [response] =~ /^4/ {
    mutate { add_field => { "status_class" => "4xx" } }
  } else if [response] =~ /^3/ {
    mutate { add_field => { "status_class" => "3xx" } }
  } else if [response] =~ /^2/ {
    mutate { add_field => { "status_class" => "2xx" } }
  }
}
output {
  if [status_class] == "2xx" { file { path => "status_2xx" } }
  else if [status_class] == "3xx" { file { path => "status_3xx" } }
  else if [status_class] == "4xx" { file { path => "status_4xx" } }
  else if [status_class] == "5xx" { file { path => "status_5xx" } }
  dead_letter_queue { }
}
"""


# Logstash's defaults: each of ``pipeline.workers`` (one per core) takes
# ``pipeline.batch.size`` events per batch
LOGSTASH_BATCH_SIZE = 125


class StreamMicrobatch:
    """The apache pipeline over a directory of small parquet files, one
    file per micro-batch, in a closed loop (availableNow,
    maxFilesPerTrigger=1). A file holds what Logstash has in flight at its
    defaults on this host: ``LOGSTASH_BATCH_SIZE`` lines per core. In the
    traced run the same lines also run as one batch through
    ``Pipeline.run``: the apache_route reference, whose sink counts must
    match those the micro-batches add up to."""

    name = "stream_microbatch"
    files = 4
    batch_lines = 8_000  # the apache_route batch of the traced run
    malformed_share = 0.03
    sinks = checks.APACHE_SINKS

    def stage(self, ctx: Ctx) -> None:
        root = os.path.join(ctx.work, "stage")
        self.lines_per_file = LOGSTASH_BATCH_SIZE * ctx.nproc

        def build(n_files, stream):
            def go(d):
                import pyarrow as pa
                lines = stage.gen_access_lines(ctx.seed * 7 + stream, n_files * self.lines_per_file,
                                               self.malformed_share)
                stage.write_parts(pa.table({"message": lines}), d, n_files)
            return go

        n = self.files * self.lines_per_file
        self.lines_dir = stage.staged(root, f"lines-s{ctx.seed}-n{n}-f{self.files}",
                                      build(self.files, 0))
        self.payload = _payload(self.lines_dir, "message")
        self.events = n

    def stage_batch(self, ctx: Ctx) -> str:
        """One big batch of lines for the traced run's apache_route part."""
        import pyarrow as pa

        return stage.staged(
            os.path.join(ctx.work, "stage"), f"lines-s{ctx.seed}-n{self.batch_lines}",
            lambda d: stage.write_parts(pa.table({"message": stage.gen_access_lines(
                ctx.seed * 7 + 2, self.batch_lines, self.malformed_share)}), d, ctx.nproc))

    def prepare(self, ctx: Ctx) -> None:
        from logstash_spark import datagen

        self.dims = [datagen.gen_geo_ranges(ctx.spark, 500), datagen.gen_ua_rules(ctx.spark)]
        if not hasattr(self, "expected"):
            self.expected = checks.apache_expected(self.lines_dir)

    def pipeline(self):
        from logstash_spark import lscl
        from logstash_spark.pipeline import Pipeline

        spec = lscl.to_pipeline_spec(APACHE_CONF, pipeline_id="apache")
        for f in spec["filters"]:
            if "geoip" in f:
                f["geoip"]["ranges_df"] = self.dims[0]
            if "useragent" in f:
                f["useragent"]["rules_df"] = self.dims[1]
        return Pipeline(spec)

    def stream_round(self, ctx: Ctx, lines_dir: str, run_dir: str):
        """One streaming query draining ``lines_dir``; returns (query, wall s)."""
        from logstash_spark import streaming

        shutil.rmtree(run_dir, ignore_errors=True)
        t0 = time.monotonic()
        pipe = self.pipeline()
        src = streaming.stream_from_directory(ctx.spark, lines_dir, "message string",
                                              max_files_per_trigger=1)
        q = streaming.run_streaming(pipe, src, run_dir, bucket_on="message",
                                    n_buckets=ctx.nproc, available_now=True, timeout_sec=150)
        wall = time.monotonic() - t0
        if q.isActive:
            q.stop()
            raise RuntimeError("streaming query did not drain its input within 150 s")
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        return q, wall

    def batch_run(self, ctx: Ctx, lines_dir: str, run_dir: str):
        pipe = self.pipeline()
        return pipe.run(ctx.spark.read.parquet(lines_dir), run_dir, bucket_on="message",
                        n_buckets=ctx.nproc)

    def warmup(self, ctx: Ctx) -> None:
        # a whole round over the timed files: batch times keep falling over
        # the first batches of a fresh JVM (JIT)
        self.stream_round(ctx, self.lines_dir, os.path.join(ctx.work, "run_warm_stream"))

    @staticmethod
    def batches(q) -> list[dict]:
        return [p for p in q.recentProgress if p.numInputRows > 0]

    def run_once(self, ctx: Ctx) -> list[Op]:
        run_dir = os.path.join(ctx.work, "run_stream")
        q, _ = self.stream_round(ctx, self.lines_dir, run_dir)
        progress = self.batches(q)
        with open(os.path.join(run_dir, "metrics_stream.jsonl")) as f:
            recs = [json.loads(line) for line in f]
        summed = {s: sum(r["sinks"].get(s, 0) for r in recs) for s in self.sinks}
        problems = checks.apache_check(run_dir, self.expected, summed)
        if len(recs) != self.files or len(progress) != self.files:
            problems.append(f"{len(recs)} batches recorded, {len(progress)} progressed, "
                            f"expected {self.files}")
        rows = {r["batch_id"]: r["events"]["in"] for r in recs}
        per_byte = self.payload / self.events
        total_sink = checks.sink_bytes(run_dir, self.sinks)[0]
        ops = []
        for p in progress:
            n = rows.get(p.batchId, 0)
            bad = problems or ([] if n == self.lines_per_file else [f"batch {p.batchId}: {n} rows"])
            ops.append(Op(p.durationMs["triggerExecution"] / 1000, n, int(n * per_byte),
                          total_sink * n // self.events, not bad, bad))
        return ops

    def reference_check(self, ctx: Ctx) -> list[str]:
        """The apache_route run: the same lines as one ``Pipeline.run``
        batch must land the counts the micro-batches added up to."""
        run_dir = os.path.join(ctx.work, "run_batch")
        m = self.batch_run(ctx, self.lines_dir, run_dir)
        return checks.apache_check(run_dir, self.expected, m.sinks)

    def stage_specs(self, ctx: Ctx, lines_dir: str):
        spec_filters = self.pipeline().filter_specs
        names = {"grok": "stages.grok.s", "date": "stages.date.s", "geoip": "stages.geoip.s",
                 "useragent": "stages.useragent.s", "mutate": "stages.mutate.s"}
        specs = [(names[next(k for k in f if k != "when")], f) for f in spec_filters]
        return ctx.spark.read.parquet(lines_dir), specs


class CorpusCurate:
    """PII scrub, minhash near-duplicate removal, duplicate-line removal
    and text statistics over a seeded corpus, forced by one aggregate.
    Measured inside the web_fatpages traced run (see WORKLOADS.md)."""

    unique_docs = 600
    exact_share = 0.10
    near_share = 0.10
    boilerplate_share = 0.4

    def stage(self, ctx: Ctx) -> None:
        root = os.path.join(ctx.work, "stage")

        def build(n, stream):
            return lambda d: stage.write_parts(
                stage.gen_corpus(ctx.seed * 7 + stream, n, self.exact_share, self.near_share,
                                 self.boilerplate_share), d, ctx.nproc)

        self.docs_dir = stage.staged(root, f"corpus-s{ctx.seed}-n{self.unique_docs}",
                                     build(self.unique_docs, 0))
        self.warm_dir = stage.staged(root, f"corpus-s{ctx.seed}-warm", build(200, 1))
        self.payload = _payload(self.docs_dir, "text")
        self.events = pq.ParquetDataset(self.docs_dir).read(columns=["doc_id"]).num_rows

    def prepare(self, ctx: Ctx) -> None:
        self.dims = []
        if not hasattr(self, "expected"):
            self.expected = checks.corpus_expected(self.docs_dir)

    @staticmethod
    def chain(docs, upto: int = 4):
        """scrub → minhash dedup → line dedup → text stats, cut after
        ``upto`` steps (the prefix timings use the cut chains)."""
        from logstash_spark.datapipe import dedup, pii, textstats

        steps = [pii.scrub_pii, dedup.minhash_dedup, dedup.dedup_lines,
                 textstats.text_quality_stats]
        for fn in steps[:upto]:
            docs = fn(docs)
        return docs

    def warmup(self, ctx: Ctx) -> None:
        from logstash_spark.datapipe import dedup

        self.chain(ctx.spark.read.parquet(self.warm_dir).select("doc_id", "text")) \
            .write.format("noop").mode("overwrite").save()
        dedup.release_dedup_caches()


WORKLOADS = {w.name: w for w in (WebFatpages, StreamMicrobatch)}
