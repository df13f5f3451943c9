"""Conditional fan-out routing to sinks + dead-letter queue.

Reference counterparts:
* ``output { if … }`` branches — compiled as IfVertex/BooleanEdge over
  output vertices (org/logstash/config/ir/graph/IfVertex.java,
  BooleanEdge.java; DatasetCompiler#outputDataset). An event may match
  several non-exclusive branches → one filter per branch predicate,
  NOT an exclusive switch (SURVEY §2.5 centerpiece).
* Dead-letter queue — org/logstash/common/io/DeadLetterQueueWriter.java
  / DLQEntry.java: rejected events + reason metadata.
* ``@metadata`` never serialized by outputs — Event.java METADATA;
  mirrored by dropping ``_meta`` before every write.

Spark decisions:
* The routed DataFrame is persisted (MEMORY_AND_DISK) by the caller
  before fan-out — Catalyst does NOT share subtrees across separate
  write actions, so this is the one hand-rolled optimization the
  reference's Dataset#compute memoization corresponds to (SURVEY §4).
* Sinks write parquet partitioned by the ``bucket`` column with dynamic
  partition overwrite → idempotent per-bucket writes (resume story).
  The mode is a per-write option (path sinks) or a table option set
  when the engine creates a catalog table, so it holds whatever the
  session's ``spark.sql.sources.partitionOverwriteMode`` says, and the
  session conf is never touched.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .conditions import compile_condition
from .fieldref import METADATA_FIELD, TAGS_FIELD

# default DLQ predicate: any parse/enrich failure tag present
DLQ_DEFAULT_CONDITION = "failure_tags_present"


def failure_tag_predicate(df: DataFrame) -> Column:
    if TAGS_FIELD not in df.columns:
        return F.lit(False)
    return F.exists(F.col(TAGS_FIELD), lambda t: t.endswith("failure") | t.endswith("_miss"))

# the per-write/table option that makes an overwrite bucket-scoped
_OVERWRITE_MODE_KEY = "partitionOverwriteMode"


@dataclass
class SinkSpec:
    name: str
    when: str | None = None  # None → unconditional (catch-all branch)
    fmt: str = "parquet"
    dlq: bool = False
    select: list[str] | None = None  # optional projection per sink
    # Catalog-table sink (the Iceberg deployment shape): when set, rows
    # go to `catalog.db.table` through DataFrameWriterV2 instead of a
    # path under run_dir. `fmt` becomes the table provider (`iceberg`
    # on a cluster with the runtime jar; the sandbox tests the identical
    # code path with the built-in catalog + parquet provider).
    table: str | None = None
    # writer options passed through verbatim (kafka sinks carry
    # kafka.bootstrap.servers / topic here; see kafka_sink_frame)
    options: dict | None = None

    @classmethod
    def from_dict(cls, d: dict) -> "SinkSpec":
        return cls(
            name=d["name"],
            when=d.get("when"),
            fmt=d.get("format", "parquet"),
            dlq=bool(d.get("dlq", False)),
            select=d.get("select"),
            table=d.get("table"),
            options=d.get("options"),
        )


def dlq_projection(df: DataFrame) -> DataFrame:
    """Map failed rows to the dead_letter schema (FIXTURES.md §5):
    url, error_stage, error_reason, original(struct), failed_ts.

    Deviation from the reference (documented): DLQEntry serializes the
    original event as JSON text (DeadLetterQueueWriter.java); here the
    original payload stays a TYPED STRUCT column — parquet nests
    natively, readers get schema back for free, and it avoids Spark 4's
    per-row StructsToJsonEvaluator invoke (measured 12 ms/row — the
    single slowest expression in the whole pipeline when the DLQ branch
    used ``to_json``)."""
    cols = df.columns
    url = F.col("url") if "url" in cols else F.lit(None).cast("string")
    tags = F.col(TAGS_FIELD) if TAGS_FIELD in cols else F.array().cast("array<string>")
    fail_tags = F.filter(tags, lambda t: t.endswith("failure") | t.endswith("_miss"))
    ts = (
        F.col("event_ts")
        if "event_ts" in cols
        else (F.col("warc_ts") if "warc_ts" in cols else F.lit(None).cast("timestamp"))
    )
    payload = [c for c in cols if c not in (METADATA_FIELD, "bucket")]
    out = df.select(
        url.alias("url"),
        # F.get (not element_at): a custom DLQ `when` can route rows with
        # zero failure tags — element_at on an empty array throws under ANSI
        F.get(fail_tags, 0).alias("error_stage"),
        F.array_join(fail_tags, ",").alias("error_reason"),
        F.struct(*payload).alias("original"),
        ts.alias("failed_ts"),
        *([F.col("bucket")] if "bucket" in cols else []),
    )
    return out


def kafka_sink_frame(branch: DataFrame, sink: SinkSpec) -> tuple[DataFrame, dict]:
    """logstash-output-kafka → the (frame, options) pair Spark's kafka
    sink expects: the whole event serializes into a ``value`` JSON
    string (kafka.rb codec json default), an optional ``message_key``
    field becomes ``key``, and ``topic_id``/``bootstrap_servers`` lower
    to the writer option map. Pure and contract-tested
    (tests/test_sources.py) — no broker or spark-sql-kafka jar in the
    sandbox, so the frame/option lowering is the testable surface and
    ``.save()`` is the thin untestable rim."""
    opts = dict(sink.options or {})
    if "kafka.bootstrap.servers" not in opts:
        raise ValueError(f"kafka sink {sink.name!r} requires kafka.bootstrap.servers")
    if "topic" not in opts:
        raise ValueError(f"kafka sink {sink.name!r} requires topic")
    key_field = opts.pop("message_key", None)
    payload = [c for c in branch.columns if c not in (METADATA_FIELD, "bucket")]
    cols = [F.to_json(F.struct(*payload)).alias("value")]
    if key_field:
        # logstash-output-kafka message_key is a SPRINTF template
        # ('%{request_id}') or a field reference ('[user][id]') — a raw
        # F.col would treat either spelling as a literal flat column
        # name and fail analysis (review finding)
        from .fieldref import field_col, sprintf_col

        key = (sprintf_col(key_field) if "%{" in key_field
               else field_col(key_field))
        cols.insert(0, key.cast("string").alias("key"))
    return branch.select(*cols), opts


def _csv_safe(df: DataFrame) -> DataFrame:
    """Spark's CSV writer rejects array/map/struct columns, and every
    compiled pipeline carries at least ``tags: array<string>`` — so any
    LSCL config with a ``csv { }`` output used to die at write time
    with AnalysisException. Auto-derive a scalar projection: string
    arrays join with ','; other complex types serialize ``to_json``
    (the same flattening logstash-output-csv users do by hand)."""
    cols = []
    for name, dtype in df.dtypes:
        c = F.col(name)
        if dtype.startswith("array<string>"):
            cols.append(F.array_join(c, ",").alias(name))
        elif dtype.startswith(("array", "map", "struct")):
            cols.append(F.to_json(c).alias(name))
        else:
            cols.append(c)
    return df.select(*cols)


def _write_catalog_table(branch: DataFrame, sink: SinkSpec, mode: str) -> None:
    """Write a sink branch to a catalog table via DataFrameWriterV2.

    The Iceberg deployment shape for ``output { iceberg { table => … } }``:
    first batch creates the table partitioned by ``bucket`` (with the
    Iceberg provider that's a hidden-partitioned v2 table) and with the
    table option ``partitionOverwriteMode=dynamic``; re-runs of the same
    batch in overwrite mode land as dynamic partition overwrite
    (``overwritePartitions`` ≙ Iceberg's replace-partitions commit — the
    same idempotent-resume contract the path sinks get from their
    per-write option); append mode accumulates micro-batches.
    Catalog-agnostic: exercised in-sandbox against the built-in session
    catalog (tests/test_sources.py::test_catalog_table_sink_overwrite_and_append).
    """
    from pyspark.errors import AnalysisException

    spark = branch.sparkSession
    if not spark.catalog.tableExists(sink.table):
        creator = (branch.writeTo(sink.table).using(sink.fmt)
                   .option(_OVERWRITE_MODE_KEY, "dynamic"))
        if "bucket" in branch.columns:
            creator = creator.partitionedBy(F.col("bucket"))
        creator.create()
        return
    try:
        if mode != "overwrite":
            branch.writeTo(sink.table).append()
        elif "bucket" in branch.columns:
            branch.writeTo(sink.table).overwritePartitions()
        else:
            branch.writeTo(sink.table).using(sink.fmt).createOrReplace()
    except AnalysisException as e:
        # Structured error condition first (Spark 4 raises
        # _LEGACY_ERROR_TEMP_1012 = "Cannot write into v1 table" on this
        # path — it has no dedicated error class yet); message substring
        # as the fallback for builds without conditions here.
        cond = e.getCondition() if hasattr(e, "getCondition") else None
        is_v1 = cond == "_LEGACY_ERROR_TEMP_1012" or (
            cond is None and "v1 table" in str(e)
        )
        if not is_v1:
            raise
        # The built-in session catalog exposes parquet tables as v1,
        # which rejects DataFrameWriterV2 writes — fall back to the v1
        # writer. insertInto is position-based, so align to the table's
        # column order first. It ignores writer options: its overwrite
        # is bucket-scoped only through the table's storage property,
        # else the session conf — without either it would wipe every
        # other bucket, so refuse it.
        if mode == "overwrite" and "bucket" in branch.columns:
            _require_dynamic_overwrite(spark, sink.table)
        aligned = branch.select(*spark.table(sink.table).columns)
        aligned.write.insertInto(sink.table, overwrite=(mode == "overwrite"))


def _require_dynamic_overwrite(spark, table: str) -> None:
    import json

    desc = json.loads(
        spark.sql(f"DESCRIBE TABLE EXTENDED {table} AS JSON").first()[0])
    props = {k.lower(): v for k, v in
             (desc.get("storage_properties") or {}).items()}
    effective = props.get(_OVERWRITE_MODE_KEY.lower()) or spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode")
    if effective.lower() != "dynamic":
        raise ValueError(
            f"overwrite into {table} would replace the whole table, not "
            "the batch's buckets: neither its storage properties nor the "
            "session set partitionOverwriteMode to dynamic. Run: "
            f"ALTER TABLE {table} SET SERDEPROPERTIES "
            f"('{_OVERWRITE_MODE_KEY}'='dynamic')")


def _rubydebug_render(row) -> str:
    """awesome_print-shaped event rendering (rubydebug codec): keys
    right-aligned to the longest, ``"key" => value`` lines inside
    braces. Values render as JSON (the documented Ruby→JSON deviation;
    structs/arrays/timestamps stringify recursively)."""
    import json as _json

    d = row.asDict(recursive=True)
    if not d:
        return "{}"
    width = max(len(k) for k in d) + 2  # the quotes
    lines = [
        '"{}"'.format(k).rjust(width + 4) + " => "
        + _json.dumps(v, default=str, ensure_ascii=False)
        for k, v in d.items()
    ]
    return "{\n" + ",\n".join(lines) + "\n}"


# the sink fan-out runs concurrently; two debug sinks interleaving
# mid-event would garble the exact bring-up output these codecs exist
# for (review finding) — serialize stdout across them
_DEBUG_STDOUT_LOCK = threading.Lock()


def _write_debug_stdout(branch: DataFrame, fmt: str) -> int:
    import sys

    if fmt == "dots":
        n = branch.count()
        with _DEBUG_STDOUT_LOCK:
            sys.stdout.write("." * n)
            sys.stdout.flush()
        return n
    rows = branch.toLocalIterator()
    n = 0
    with _DEBUG_STDOUT_LOCK:
        for row in rows:
            sys.stdout.write(_rubydebug_render(row) + "\n")
            n += 1
        sys.stdout.flush()
    return n


class Router:
    def __init__(self, sinks: list[dict | SinkSpec]):
        self.sinks = [s if isinstance(s, SinkSpec) else SinkSpec.from_dict(s) for s in sinks]
        names = [s.name for s in self.sinks]
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            # names key BOTH the per-sink count dict and the output path
            # under run_dir — duplicates mean concurrent same-path
            # writes clobbering each other and counts silently collapsed
            raise ValueError(f"duplicate sink names {dupes}")
        for n in names:
            # the name is a single path segment under run_dir AND the
            # target of the fresh-run rmtree hygiene — a separator or
            # '..' would write (and DELETE) outside the run directory
            # (review finding), and 'a' vs 'a/b' would nest sinks past
            # the duplicate guard
            if "/" in n or "\\" in n or n in ("", ".", ".."):
                raise ValueError(
                    f"sink name {n!r} must be a single path segment "
                    "(no separators or dot-dirs)")
        tables = [s.table for s in self.sinks if s.table]
        tdupes = sorted({t for t in tables if tables.count(t) > 1})
        if tdupes:
            # two sinks writing ONE table race tableExists→create and
            # their dynamic-overwrite commits erase each other's buckets
            raise ValueError(
                f"multiple sinks write the same table(s) {tdupes}; "
                "give them distinct tables or merge the branches")

    def branch(self, df: DataFrame, sink: SinkSpec) -> DataFrame:
        if sink.dlq:
            pred = (
                failure_tag_predicate(df)
                if sink.when in (None, DLQ_DEFAULT_CONDITION)
                else compile_condition(sink.when, df)
            )
            dlq = dlq_projection(df.filter(pred))
            return _csv_safe(dlq) if sink.fmt == "csv" else dlq
        branch = df.filter(compile_condition(sink.when, df)) if sink.when else df
        if METADATA_FIELD in branch.columns:
            branch = branch.drop(METADATA_FIELD)
        if sink.select:
            keep = [c for c in sink.select if c in branch.columns]
            if "bucket" in branch.columns and "bucket" not in keep:
                keep.append("bucket")
            branch = branch.select(*keep)
        if sink.fmt == "csv":
            branch = _csv_safe(branch)
        return branch

    def write_batch(
        self, df: DataFrame, run_dir: str, mode: str = "overwrite",
        truncate_tables: bool = False,
    ) -> dict[str, int]:
        """Write every sink branch of an (already persisted) batch.

        Returns per-sink row counts. Partitioned-by-bucket dynamic
        overwrite keeps re-runs of the same batch idempotent.

        The at-least-once resume guarantee must not depend on who built
        the SparkSession: ``mode("overwrite").partitionBy("bucket")`` is
        only bucket-scoped under dynamic partition overwrite — under the
        Spark default (STATIC) it truncates the whole sink root, so every
        micro-batch would erase its predecessors and resume would
        silently keep only the last batch. Path sinks therefore carry
        ``partitionOverwriteMode=dynamic`` as a per-write option, and
        catalog tables as a table option (``_write_catalog_table``);
        the session conf is left alone (reference parity:
        ackedqueue/Queue.java ack semantics — a replayed batch must land
        idempotently regardless of process-level configuration).
        """
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        def write_one(sink: SinkSpec) -> tuple[str, int]:
            branch = self.branch(df, sink)
            if sink.fmt in ("rubydebug", "dots"):
                # logstash-codec-rubydebug / logstash-codec-dots — the
                # stdout output's DEBUG codecs. Printing is inherently a
                # driver action: dots never moves data (one count job,
                # one "." per event); rubydebug streams partitions one
                # at a time via toLocalIterator. Debug tools by
                # definition, not a data path — at scale route to a real
                # sink and keep these for pipeline bring-up (the exact
                # role they play in the reference).
                return sink.name, _write_debug_stdout(branch, sink.fmt)
            # per-sink count rides the write job via observe() — no second
            # pass, no extra job (Logstash's per-output events counter).
            # Unnamed: a named one left pending by a write that failed
            # before running would swallow a retry's metric on the same
            # frame, and the retry's get would block forever
            obs = Observation()
            branch = branch.observe(obs, F.count(F.lit(1)).alias("n"))
            if sink.table:
                if truncate_tables and df.sparkSession.catalog.tableExists(
                        sink.table):
                    # fresh-run hygiene (the table analog of the path
                    # sinks' rmtree): dynamic partition overwrite only
                    # replaces buckets that receive rows, so a FRESH
                    # run over different data would otherwise serve a
                    # mix of this run's and the previous run's
                    # partitions (review finding). TRUNCATE works on
                    # both v1 session-catalog and v2/Iceberg tables.
                    df.sparkSession.sql(f"TRUNCATE TABLE {sink.table}")
                _write_catalog_table(branch, sink, mode)
            elif sink.fmt == "kafka":
                frame, opts = kafka_sink_frame(branch, sink)
                try:
                    frame.write.format("kafka").options(**opts).save()
                except Exception as e:
                    # only rewrite the missing-data-source case; broker /
                    # auth / serialization failures must surface as-is
                    msg = str(e)
                    if ("Failed to find data source" in msg
                            or "DATA_SOURCE_NOT_FOUND" in msg
                            or "ClassNotFoundException" in msg):
                        raise RuntimeError(
                            f"kafka sink {sink.name!r} requires the "
                            f"spark-sql-kafka-0-10 jar on the cluster: {e}"
                        ) from e
                    raise
            else:
                path = f"{run_dir}/{sink.name}"
                writer = (branch.write.format(sink.fmt).mode(mode)
                          .option(_OVERWRITE_MODE_KEY, "dynamic"))
                if "bucket" in branch.columns:
                    writer = writer.partitionBy("bucket")
                writer.save(path)
            return sink.name, int(obs.get["n"])

        # all sink branches scan the SAME persisted batch — submit the
        # write jobs concurrently (Spark's scheduler interleaves them;
        # the reference writes outputs from the same worker pass,
        # DatasetCompiler#outputDataset). Serializing them would leave
        # the cluster idle between job tails.
        with ThreadPoolExecutor(max_workers=max(1, len(self.sinks))) as pool:
            return dict(pool.map(write_one, self.sinks))
