"""Pipeline: spec → one DataFrame DAG → bucketed, resumable, metered run.

Reference counterparts:
* config → IR → compiled chain: logstash-core/lib/logstash/compiler.rb
  → org/logstash/config/ir/PipelineIR.java →
  config/ir/compiler/CompiledPipeline.java (#buildExecution). Here the
  "IR" is the spec dict and "codegen" is Catalyst: the whole filter
  chain is ONE DataFrame expression DAG, analyzed/optimized/codegen'd
  by Spark (SURVEY §3.1 step 6–7 replacement).
* worker loop / batches: execution/WorkerLoop.java — replaced by Spark
  task scheduling; the micro-batch unit here is a url-hash bucket
  group, which is also the checkpoint/ack unit (ackedqueue parity, see
  checkpoint.py).
* conditionals around filters: IfVertex branches — a stage with a
  ``when`` key applies to matching rows only (filter → stage → union).

Spec shape::

    {
      "id": "web",
      "filters": [
        {"grok": {...}},
        {"when": "[lang] == 'en'", "mutate": {...}},   # conditional stage
      ],
      "outputs": [
        {"name": "sink_en", "when": "[lang] == 'en'"},
        {"name": "dead_letter", "dlq": True},
      ],
    }
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, MapType, NullType, StructField, StructType,
)
from pyspark.storagelevel import StorageLevel

from .checkpoint import CheckpointManifest
from .conditions import compile_condition
from .metrics import PipelineMetrics, StageMetrics
from .router import Router
from .stages import build_stage
from .stages.base import ensure_tags

BUCKET_COL = "bucket"


class Pipeline:
    def __init__(self, spec: dict):
        self.spec = spec
        self.id = spec.get("id", "main")
        self.filter_specs = spec.get("filters", [])
        self.router = Router(spec.get("outputs", []))
        # stage objects are built once (plan-time compilation)
        self.stages = []
        for fspec in self.filter_specs:
            fspec = dict(fspec)
            when = fspec.pop("when", None)
            self.stages.append((when, build_stage(fspec)))

    # ---- the compiled filter chain -----------------------------------------
    def compile(self, df: DataFrame) -> DataFrame:
        """Lower the stage list into ONE DataFrame expression DAG.

        Conditional (``when``-wrapped) stages: Catalyst does NOT share a
        common subtree across the two branches of a filter/union, so the
        naive ``filter(cond) → stage → union filter(~cond)`` executes
        everything upstream twice per conditional (round-1 finding).
        Row-preserving stages with a statically known write-set instead
        lower to when/otherwise column merges on the single DataFrame —
        the stage runs over all rows, its outputs gated per row by the
        condition (the reference's Dataset#compute memoization
        equivalent). Cardinality/shape-changing stages keep the branch
        lowering but persist the upstream first so it executes once;
        those persists are released by ``release_branch_caches()``
        (execute_batch calls it after each batch).
        """
        df = ensure_tags(df)
        # a second compile() on the same Pipeline must not orphan the
        # previous call's branch persists (library callers may compile
        # without execute_batch(), which releases after each batch)
        self.release_branch_caches()
        for when, stage in self.stages:
            if when is None:
                df = stage.apply(df)
                continue
            cond = compile_condition(when, df)
            targets = stage.conditional_targets(df)
            if targets is not None:
                df = _conditional_merge(df, stage, cond, targets)
            else:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                self._branch_caches.append(df)
                matched = stage.apply(df.filter(cond))
                rest = df.filter(~F.coalesce(cond, F.lit(False)))
                df = matched.unionByName(rest, allowMissingColumns=True)
        return df

    def release_branch_caches(self) -> None:
        for cached in getattr(self, "_branch_caches", []):
            cached.unpersist()
        self._branch_caches = []

    # ---- failure-tag census (per-stage metrics) ----------------------------
    def _stage_failure_tags(self) -> dict[str, list[str]]:
        out = {}
        defaults = {
            "grok": ["_grokparsefailure"],
            "dissect": ["_dissectfailure"],
            "json": ["_jsonparsefailure"],
            "csv": ["_csvparsefailure"],
            "date": ["_dateparsefailure"],
            "geoip": ["_geoip_lookup_failure"],
        }
        for _, stage in self.stages:
            tags = stage.conf.get("tag_on_failure") or defaults.get(stage.plugin_name, [])
            if tags:
                out[stage.id] = tags
        return out

    # ---- execution ----------------------------------------------------------
    def run(
        self,
        source: DataFrame,
        run_dir: str,
        bucket_on: str = "url",
        n_buckets: int = 32,
        n_batches: int = 1,
        resume: bool = False,
        _fail_after_batch: int | None = None,  # test hook: simulate a crash
    ) -> PipelineMetrics:
        """Execute parse→enrich→route over bucket-group micro-batches.

        ``n_buckets`` is the partition/lineage granularity (scales to
        thousands on a cluster); ``n_batches`` groups buckets into
        micro-batches — each is one checkpointed unit of work.
        """
        manifest = CheckpointManifest(run_dir)
        if not resume:
            manifest.reset()
            # stale-partition hygiene: a previous run over the same
            # run_dir may have written buckets this run won't touch —
            # dynamic partition overwrite only replaces buckets that
            # receive rows, so a FRESH run must clear its path sinks
            # (catalog/kafka/stdout sinks have no run_dir directory)
            import shutil

            for sink in self.router.sinks:
                if not sink.table and sink.fmt not in (
                        "kafka", "rubydebug", "dots"):
                    shutil.rmtree(f"{run_dir}/{sink.name}",
                                  ignore_errors=True)
        completed = manifest.completed_batches()

        bucketed = _with_bucket(source, bucket_on, n_buckets)

        groups: list[list[int]] = [[] for _ in range(n_batches)]
        for b in range(n_buckets):
            groups[b % n_batches].append(b)

        if resume and completed:
            # an acked batch is only skippable when it covered the SAME
            # buckets this run assigns to that batch id — resuming with
            # a different n_buckets/n_batches/bucket_on would silently
            # skip work (e.g. a 4-batch run resumed as 1 batch skips
            # everything because batch 0 is acked)
            src_now = _describe_source(source)
            for bid, entry in sorted(completed.items()):
                expect = groups[bid] if bid < len(groups) else None
                got = entry.get("buckets")
                key_was = entry.get("lineage", {}).get("bucket_on")
                if got != expect or (key_was is not None
                                     and key_was != bucket_on):
                    raise ValueError(
                        f"resume: manifest batch {bid} covered buckets "
                        f"{got} (bucket_on={key_was!r}) but the current "
                        f"grouping (n_buckets={n_buckets}, "
                        f"n_batches={n_batches}, bucket_on={bucket_on!r}) "
                        f"expects {expect} — resume with the original "
                        "parameters, or start fresh (resume=False)")
                # the manifest records per-batch input lineage — an
                # acked batch from a DIFFERENT input must not be
                # skipped (the sinks would silently mix two inputs).
                # In-memory sources carry no stable identity; only
                # file-backed identities are comparable.
                src_was = entry.get("lineage", {}).get("source")
                if (src_was and src_was != "in-memory"
                        and src_now != "in-memory" and src_was != src_now):
                    raise ValueError(
                        f"resume: manifest batch {bid} was produced "
                        f"from {src_was!r} but this run reads "
                        f"{src_now!r} — skipping it would mix two "
                        "inputs in the sinks; resume with the original "
                        "input, or start fresh (resume=False)")

        total = PipelineMetrics(self.id)
        for batch_id, buckets in enumerate(groups):
            entry = completed.get(batch_id)
            if entry is None:
                batch_src = (
                    bucketed.filter(F.col(BUCKET_COL).isin(buckets))
                    if n_batches > 1
                    else bucketed
                )
                entry = self.execute_batch(
                    batch_src, run_dir, len(buckets),
                    truncate_tables=(not resume) and batch_id == 0)
                entry["buckets"] = buckets
                entry["lineage"] = {"source": _describe_source(source),
                                    "run_dir": run_dir,
                                    "bucket_on": bucket_on,
                                    "n_buckets": n_buckets}
                manifest.ack(batch_id, entry)
                if _fail_after_batch is not None and batch_id >= _fail_after_batch:
                    raise RuntimeError(f"simulated crash after batch {batch_id}")
            total = total.merge(_metrics_from_manifest(self.id, entry))

        total.write(f"{run_dir}/metrics.json")
        return total

    def execute_batch(
        self,
        df: DataFrame,
        run_dir: str,
        n_partitions: int,
        mode: str = "overwrite",
        truncate_tables: bool = False,
    ) -> dict:
        """Run one micro-batch of an already bucketed frame through the
        chain and the sinks; the one per-batch body of both batch
        (``run``) and streaming (``streaming.run_streaming``) mode.

        Returns the batch record: ``{"events": {in, filtered, out,
        duration_in_millis}, "sinks", "failures"}``.
        """
        t0 = time.monotonic()
        # events.in is the PRE-compile ingress count (node-stats
        # semantics): a drop/split filter changes the post-compile
        # count, which is events.filtered
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("events_in"))
        # One shuffle on the bucket key before the multi-sink fan-out:
        # without it every task writes into every bucket directory of
        # every sink (tasks x buckets x sinks tiny files — measured to
        # INVERT scaling at local[32]). With it each bucket is one
        # task's output file per sink, and the persisted layout is
        # co-located with the checkpoint/ack unit. The shuffle carries
        # only post-parse columns (html is projected away by the
        # extract stage before this point).
        compiled = self.compile(df)
        if BUCKET_COL not in compiled.columns:
            raise ValueError(
                f"a filter removed the internal {BUCKET_COL!r} column "
                "(remove_field / prune whitelist?) — it must survive "
                "to the sinks: it is the partition key of the "
                "checkpointed idempotent bucket-overwrite contract")
        routed = (
            compiled
            .repartition(n_partitions, F.col(BUCKET_COL))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # ONE materializing agg: total row count + per-stage failure
            # counts (fills the cache; separate count() jobs removed)
            filtered, failures = _failure_census(
                routed, self._stage_failure_tags())
            sinks = self.router.write_batch(
                routed, run_dir, mode=mode, truncate_tables=truncate_tables)
        finally:
            routed.unpersist()
            self.release_branch_caches()
        return {
            "events": {
                "in": int(obs.get["events_in"]),
                "filtered": filtered,
                "out": sum(sinks.values()),
                "duration_in_millis": int((time.monotonic() - t0) * 1000),
            },
            "sinks": sinks,
            "failures": failures,
        }


def _with_bucket(df: DataFrame, bucket_on: str, n_buckets: int) -> DataFrame:
    """Add the url-hash ``bucket`` column: the partition key of every
    sink and the unit a batch's buckets are grouped by."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(bucket_on)), F.lit(n_buckets)))


_COND = "__when_cond"


def _union_struct(old_t, new_t):
    """Recursive field union of two struct types: new_t's fields first
    (keeping NEW types on name overlap; nested structs union
    recursively), then old-only fields appended. Non-struct pairs →
    new_t. Lets a conditional merge keep values a stage's schema
    change would otherwise silently drop (nested remove_field)."""
    if not (isinstance(old_t, StructType) and isinstance(new_t, StructType)):
        return new_t
    old_by = {f.name: f for f in old_t.fields}
    new_names = {f.name for f in new_t.fields}
    fields = [
        StructField(
            f.name,
            _union_struct(old_by[f.name].dataType, f.dataType)
            if f.name in old_by else f.dataType,
            True,
        )
        for f in new_t.fields
    ]
    fields += [StructField(f.name, f.dataType, True)
               for f in old_t.fields if f.name not in new_names]
    return StructType(fields)


def _align_to(col, old_t, new_t):
    """Project a column of schema ``old_t`` into schema ``new_t``:
    struct-vs-struct recurses field-by-field (fields absent from the
    old shape → typed null; shared fields keep their values, aligned
    recursively); non-struct mismatches try_cast (the convert-op
    discipline: dirty → null, flow on). A null old struct stays a null
    new struct."""
    if old_t == new_t:
        return col
    if isinstance(old_t, StructType) and isinstance(new_t, StructType):
        parts = []
        for f in new_t.fields:
            if f.name in old_t.fieldNames():
                parts.append(_align_to(
                    col.getField(f.name), old_t[f.name].dataType, f.dataType
                ).alias(f.name))
            else:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
        return F.when(col.isNull(), F.lit(None).cast(new_t)).otherwise(
            F.struct(*parts))
    def _category(t):
        for cls in (StructType, ArrayType, MapType):
            if isinstance(t, cls):
                return cls
        return "scalar"

    if isinstance(old_t, NullType):
        # a void (all-null) backup casts into ANY type while preserving
        # every (null) value — the refusal below would false-positive
        return col.try_cast(new_t)
    if _category(old_t) != _category(new_t):
        # CROSS-category retype (scalar↔struct/array/map, array↔map…)
        # has no value-preserving cast: a conditional stage (e.g.
        # `if [x] { mutate { split ... } }`) retyped the column, and
        # unmatched rows cannot keep their original value in the new
        # type. try_cast would fail ANALYSIS (opaque DATA_DIFF_TYPES)
        # or silently null/stringify — refuse loudly instead.
        raise ValueError(
            f"conditional stage retypes a column from "
            f"{old_t.simpleString()} to {new_t.simpleString()}; "
            "unmatched rows cannot keep the original value in a typed "
            "schema — write unconditionally or use a different target")
    return col.try_cast(new_t)


def _conditional_merge(df: DataFrame, stage, cond, targets: list[str]) -> DataFrame:
    """Lower ``if cond { stage }`` into column merges on one DataFrame.

    1. pin the condition (evaluated against PRE-stage columns);
    2. back up every target column that already exists;
    3. run the stage over ALL rows (one subtree execution);
    4. per target: matched rows take the stage's value, others keep the
       backup (or null for brand-new columns). A target the stage
       REMOVED outright (remove_field on a matched=None stage drops the
       column) is rebuilt from the backup: null for matched rows — the
       remove applied to them — and the original value for the rest.
    """
    pre = df.withColumn(_COND, F.coalesce(cond, F.lit(False)))
    backups: dict[str, str] = {}
    for c in targets:
        if c in df.columns:
            backups[c] = f"__orig_{c}"
            pre = pre.withColumn(backups[c], F.col(c))
    out = stage.apply(pre)
    # safety net: a stage whose _targets() under-declares would silently
    # apply its effects to non-matching rows — fail loudly instead.
    undeclared = [
        c for c in out.columns
        if c not in pre.columns and c not in targets
    ]
    if undeclared:
        raise RuntimeError(
            f"stage {stage.id!r} wrote undeclared columns {undeclared} under a "
            f"conditional; fix its _targets() declaration"
        )
    for c in targets:
        if c in backups:
            if c in out.columns:
                # a stage that RETYPED the column (nested add_field /
                # set_field adding a struct key) would make the CASE
                # branches two different struct types → analysis error;
                # align the backup into the new shape (missing keys →
                # null, shared keys keep their original values)
                new_t = out.schema[c].dataType
                old_t = pre.schema[backups[c]].dataType
                ob = F.col(backups[c])
                _complex = (StructType, ArrayType, MapType)
                if old_t != new_t and (
                    isinstance(old_t, _complex)
                    or isinstance(new_t, _complex)
                ):
                    # a stage that DROPPED struct fields (nested
                    # remove_field) must not erase them for UNMATCHED
                    # rows: align BOTH sides into the union shape —
                    # matched rows carry null in the dropped slots
                    # (the engine's documented per-row-removal
                    # deviation), unmatched rows keep their values
                    union_t = _union_struct(old_t, new_t)
                    if union_t != new_t:
                        out = out.withColumn(
                            c, _align_to(F.col(c), new_t, union_t))
                        new_t = union_t
                    # scalar mismatches (convert double→long) are left
                    # to Spark's own CASE coercion — same as a branch
                    # lowering's unionByName would produce
                    ob = _align_to(ob, old_t, new_t)
                out = out.withColumn(
                    c, F.when(F.col(_COND), F.col(c)).otherwise(ob)
                )
            else:
                # stage dropped the column (e.g. `if [x] { mutate {
                # remove_field => [c] } }`): null for matched rows,
                # backup for the rest
                out = out.withColumn(c, F.when(~F.col(_COND), F.col(backups[c])))
        elif c in out.columns:
            out = out.withColumn(c, F.when(F.col(_COND), F.col(c)))
    return out.drop(_COND, *backups.values())


def _failure_census(
    df: DataFrame, stage_tags: dict[str, list[str]]
) -> tuple[int, dict[str, int]]:
    """ONE aggregation pass over the batch: total rows + per-stage
    failure counts (this is also the action that materializes the
    persisted batch before the sink fan-out)."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    if "tags" in df.columns:
        for sid, tags in stage_tags.items():
            pred = None
            for t in tags:
                c = F.array_contains(F.col("tags"), t)
                pred = c if pred is None else (pred | c)
            aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(sid))
    row = df.agg(*aggs).collect()[0]
    failures = (
        {sid: int(row[sid] or 0) for sid in stage_tags} if "tags" in df.columns else {}
    )
    return int(row["__total"]), failures


def _metrics_from_manifest(pipeline_id: str, entry: dict) -> PipelineMetrics:
    m = PipelineMetrics(pipeline_id)
    ev = entry.get("events", {})
    m.events_in = ev.get("in", 0)
    m.events_filtered = ev.get("filtered", 0)
    m.events_out = ev.get("out", 0)
    m.duration_in_millis = ev.get("duration_in_millis", 0)
    m.sinks = dict(entry.get("sinks", {}))
    m.filters = [
        StageMetrics(sid, m.events_in, m.events_filtered, n)
        for sid, n in entry.get("failures", {}).items()
    ]
    return m


def _describe_source(df: DataFrame) -> str:
    try:
        files = df.inputFiles()
        return files[0].rsplit("/", 1)[0] if files else "in-memory"
    except Exception:
        return "in-memory"
