"""Stage framework: one Logstash filter ≙ one plan-time DataFrame rewrite.

Reference counterpart: logstash-core/lib/logstash/filters/base.rb —
every filter shares the common options ``add_field``, ``add_tag``,
``remove_field``, ``remove_tag`` (applied via ``filter_matched`` ONLY
on events the filter matched) plus an ``id``. The per-event
``filter(event)`` contract becomes here a per-DataFrame ``transform``
contract: a stage takes a DataFrame and returns
``(DataFrame, matched_predicate | None)``; the base class then applies
the common options to the matched rows — the uniform
success-conditioned wrapper SURVEY §2.4 requires.

Writing only the rows where a predicate holds, while every other row
keeps its values in the typed schema, has ONE implementation here:
``_conditional_merge``. It lowers both an LSCL ``if`` around a stage
(``Pipeline.compile``) and a stage's matched-gated common options
(``Stage.apply``). It pins the predicate in a column before anything
runs, so an option that rewrites a column the predicate reads (a
``remove_field`` of the parsed source) cannot flip it for the options
after it — filters/base.rb likewise runs every option on an event it
has already matched.

Stages are registered by their Logstash plugin name so a pipeline spec
reads like a logstash.conf: ``{"grok": {...}}``, ``{"mutate": {...}}``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, MapType, NullType, StructField, StructType,
)

from ..fieldref import (
    TAGS_FIELD, _canonical, field_col, field_name, is_index, parse_ref,
    sprintf_col,
)

STAGE_REGISTRY: dict[str, type["Stage"]] = {}


def register(name: str):
    def deco(cls):
        STAGE_REGISTRY[name] = cls
        cls.plugin_name = name
        return cls

    return deco


def _qseg(seg: str) -> str:
    """Quote one struct-path segment for withField/dropFields, which
    PARSE dotted strings as nested paths — a field literally named
    ``b.c`` (de_dot exists because these occur in the wild) must be
    backtick-escaped or it silently addresses the wrong slot."""
    if "." in seg or "`" in seg:
        return "`" + seg.replace("`", "``") + "`"
    return seg


def _set_struct_path(col: Column, dtype, path: list[str], val: Column) -> Column:
    """Set ``path`` inside struct column ``col`` (whose schema is
    ``dtype``) to ``val``, creating missing intermediate structs the way
    the reference's ``Event#setField`` creates intermediate hashes
    (logstash-core: ConvertedMap auto-vivification), and — like Ruby —
    overwriting a non-hash intermediate with a hash."""
    prefix: list[str] = []
    cur = dtype
    for p in path[:-1]:
        if isinstance(cur, StructType) and p in cur.fieldNames():
            inner_t = cur[p].dataType
            if isinstance(inner_t, StructType):
                prefix.append(p)
                cur = inner_t
                continue
        break
    remainder = path[len(prefix):]
    inner = val
    for p in reversed(remainder[1:]):
        inner = F.struct(inner.alias(p))
    return col.withField(
        ".".join(_qseg(p) for p in prefix + [remainder[0]]), inner)


def _struct_leaf_type(dtype, path: list[str]):
    """The DataType at ``path`` inside struct schema ``dtype``, or None
    when the path does not fully exist."""
    cur = dtype
    for p in path:
        if not (isinstance(cur, StructType) and p in cur.fieldNames()):
            return None
        cur = cur[p].dataType
    return cur


def _map_drop_key(col: Column, key: str) -> Column:
    """Remove ``key`` from a map column (per-key absence — the one
    thing maps can express that structs cannot)."""
    return F.map_filter(col, lambda k, _: k != F.lit(key))


def _map_set_key(
    col: Column, dtype, key: str, val: Column,
    only_if_present: bool = False,
) -> Column:
    """Upsert ``key`` in a map column (last-wins without depending on
    spark.sql.mapKeyDedupPolicy): filter the key out, concat the new
    entry. A null map becomes a one-entry map (Event#setField vivifies
    @metadata on first write). ``only_if_present`` keeps rows whose map
    does NOT already contain ``key`` untouched — the ``Event#include?``
    per-row gate of update/gsub/case ops, which must not fabricate a
    ``key -> null`` entry for rows the reference would skip."""
    base = F.coalesce(col, F.create_map().cast(dtype.simpleString()))
    entry = F.create_map(
        F.lit(key).cast(dtype.keyType), val.try_cast(dtype.valueType))
    upserted = F.map_concat(_map_drop_key(base, key), entry)
    if only_if_present:
        return F.when(
            F.map_contains_key(col, F.lit(key)), upserted).otherwise(col)
    return upserted


def _drop_field_path(df: DataFrame, parts: list[str]) -> DataFrame:
    """Drop the leaf at ``parts`` and collapse any ancestor struct the
    removal would leave EMPTY. Documented deviation: Ruby's Hash#delete
    leaves an empty ``{}`` behind, but Spark cannot represent an empty
    struct (dropFields errors on dropping the last field), so the
    emptied ancestor chain collapses instead. A map-typed top column
    (``[@metadata][k]``) removes the KEY via map_filter — maps, unlike
    structs, can express per-key absence directly."""
    top_t = df.schema[parts[0]].dataType
    if isinstance(top_t, MapType) and len(parts) == 2:
        return df.withColumn(
            parts[0], _map_drop_key(F.col(parts[0]), parts[1]))
    sizes = []
    cur = top_t
    for p in parts[1:]:
        if not isinstance(cur, StructType):
            raise ValueError(
                "cannot remove nested field "
                f"[{']['.join(parts)}]: intermediate is "
                f"{cur.simpleString()}, not a struct")
        sizes.append(len(cur.fields))
        cur = cur[p].dataType
    k = None
    for i in range(len(sizes) - 1, -1, -1):
        if sizes[i] > 1:
            k = i
            break
    if k is None:
        return df.drop(parts[0])
    dotted = ".".join(_qseg(p) for p in parts[1: k + 2])
    return df.withColumn(parts[0], F.col(parts[0]).dropFields(dotted))


def set_field(
    df: DataFrame, ref: str, val: Column,
    only_if_present: bool = False,
) -> DataFrame:
    """Write ``val`` at field reference ``ref`` — the plan-time
    equivalent of the reference's ``Event#setField``. Top-level ref →
    ``withColumn``; nested ref → set ONE key inside the struct
    (siblings survive), auto-vivifying missing intermediate structs
    and — like Ruby — overwriting a non-hash top/intermediate with a
    hash. List-index writes (digit path segments) are rejected loudly:
    a typed column cannot grow a per-row list slot.

    ``only_if_present`` (map-key targets only): skip rows whose map
    lacks the key — the per-row half of the ``Event#include?`` gate
    that ops like update/gsub apply schema-statically via
    ``field_exists``. Struct/top-level targets ignore the flag (their
    existence IS schema-static, already gated by the caller)."""
    parts = _canonical(parse_ref(ref))
    name = parts[0]
    if len(parts) == 1:
        return df.withColumn(name, val)
    if any(is_index(p) for p in parts[1:]):
        raise ValueError(
            f"set into a list index is not supported: {ref!r}")
    if name in df.columns:
        top_t = df.schema[name].dataType
        if isinstance(top_t, MapType):
            # map-typed top (canonically [@metadata] → the _meta map):
            # upsert the KEY — clobbering the whole map with a struct
            # would destroy every other entry AND retype the column
            # out from under later %{[@metadata][...]} reads
            if len(parts) != 2:
                raise ValueError(
                    f"set {ref!r}: column {name!r} is a map of "
                    f"{top_t.valueType.simpleString()} values — only "
                    "single-level key writes are supported")
            # refuse a silently-lossy value coercion: storing a
            # complex value (split's array, a parsed struct) into an
            # atomic map valueType would round-trip through a string
            # rendering / null via try_cast (review finding). Resolve
            # the expression's type at plan time and fail loudly.
            val_t = df.select(val.alias("__v")).schema[0].dataType
            if (isinstance(val_t, (ArrayType, MapType, StructType))
                    and not isinstance(top_t.valueType, type(val_t))):
                raise ValueError(
                    f"set {ref!r}: cannot store a "
                    f"{val_t.simpleString()} value in map values of "
                    f"type {top_t.valueType.simpleString()} — the "
                    "typed map cannot hold it; use a struct column or "
                    "a string rendering explicitly")
            return df.withColumn(name, _map_set_key(
                F.col(name), top_t, parts[1], val,
                only_if_present=only_if_present))
        if dict(df.dtypes)[name].startswith("struct"):
            return df.withColumn(name, _set_struct_path(
                F.col(name), top_t, parts[1:], val))
    inner = val
    for p in reversed(parts[1:]):
        inner = F.struct(inner.alias(p))
    return df.withColumn(name, inner)


def _remove_field(df: DataFrame, ref: str) -> DataFrame:
    """Remove the field at ``ref`` (reference ``Event#remove``): a top
    column, one map key or one struct leaf via ``_drop_field_path``. A
    path absent from the schema is a no-op, as in the reference."""
    parts = _canonical(parse_ref(ref))
    if parts[0] not in df.columns:
        return df
    top_t = df.schema[parts[0]].dataType
    if (len(parts) == 1 or (isinstance(top_t, MapType) and len(parts) == 2)
            or _struct_leaf_type(top_t, parts[1:]) is not None):
        return _drop_field_path(df, parts)
    return df


def field_exists(df: DataFrame, ref: str) -> bool:
    """Does ``ref`` resolve to an existing column / struct leaf in the
    schema? (reference ``Event#include?`` at plan time — used for the
    'skip when field missing' discipline of update/convert/coerce)."""
    parts = _canonical(parse_ref(ref))
    if parts[0] not in df.columns:
        return False
    if len(parts) == 1:
        return True
    if any(is_index(p) for p in parts[1:]):
        # list index: existence is per-row, not schema-static — treat
        # the path as present iff the array column resolves
        return True
    top_t = df.schema[parts[0]].dataType
    if isinstance(top_t, MapType):
        # map keys are per-row, not schema-static: treat single-level
        # key refs as present (getField yields null for absent keys and
        # every op's null discipline handles that per row)
        return len(parts) == 2
    return _struct_leaf_type(top_t, parts[1:]) is not None


def ensure_tags(df: DataFrame) -> DataFrame:
    """Guarantee the tags array<string> column exists (reference events
    get ``tags`` lazily on first ``Event#tag``)."""
    if TAGS_FIELD in df.columns:
        return df
    return df.withColumn(TAGS_FIELD, F.array().cast("array<string>"))


def _as_list(v) -> list:
    """A list-valued option as a list: LSCL hands a one-element list
    over as a bare string (``add_tag => "seen"``), and ``list()`` of a
    string would split it into characters."""
    if not v:
        return []
    return [v] if isinstance(v, str) else list(v)


def _tag_col(t: str) -> Column:
    """filters/base.rb sprintf-interpolates tag values before tagging
    (``event.tag(event.sprintf(tag))``) — ``add_tag => ["%{type}_ok"]``
    must tag 'apache_ok', not the literal template."""
    if "%{" in t:
        return sprintf_col(t)
    return F.lit(t)


def add_tags(df: DataFrame, tags: list[str], cond: Column | None = None) -> DataFrame:
    if not tags:
        return df
    df = ensure_tags(df)
    merged = F.array_union(
        F.coalesce(F.col(TAGS_FIELD), F.array().cast("array<string>")),
        F.array(*[_tag_col(t) for t in tags]),
    )
    col = merged if cond is None else F.when(cond, merged).otherwise(F.col(TAGS_FIELD))
    return df.withColumn(TAGS_FIELD, col)


def _union_struct(old_t, new_t):
    """Recursive field union of two struct types: new_t's fields first
    (keeping NEW types on name overlap; nested structs union
    recursively), then old-only fields appended. Non-struct pairs →
    new_t. Lets a conditional merge keep values a schema change would
    otherwise silently drop (nested remove_field)."""
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
        # has no value-preserving cast: a conditional write (e.g.
        # `if [x] { mutate { split ... } }`, or a matched-gated
        # add_field over a complex leaf or through a scalar
        # intermediate) retyped the column, and unmatched rows cannot
        # keep their original value in the new type. try_cast would
        # fail ANALYSIS (opaque DATA_DIFF_TYPES) or silently
        # null/stringify — refuse loudly instead.
        raise ValueError(
            f"conditional stage retypes a column from "
            f"{old_t.simpleString()} to {new_t.simpleString()}; "
            "unmatched rows cannot keep the original value in a typed "
            "schema — write unconditionally or use a different target")
    return col.try_cast(new_t)


def _merge_names(df: DataFrame, targets: list[str]) -> tuple[str, dict[str, str]]:
    """The condition column and the per-target backup columns of one
    merge, none of them already in ``df``: a matched-gated stage inside
    an ``if`` nests one merge in another, and the inner one must not
    overwrite (then drop) the outer one's columns."""
    n = 0
    while True:
        sfx = f"_{n}" if n else ""
        cond = f"__when_cond{sfx}"
        backups = {c: f"__orig{sfx}_{c}" for c in targets if c in df.columns}
        if not {cond, *backups.values()} & set(df.columns):
            return cond, backups
        n += 1


def _conditional_merge(
    df: DataFrame, cond: Column, targets: list[str],
    fn: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Apply ``fn`` to the rows where ``cond`` holds and keep every other
    row's values, as column merges on ONE DataFrame (the engine's only
    conditional-write path):

    1. pin the condition in a column, evaluated against ``df`` — before
       ``fn`` rewrites any column it reads;
    2. back up every target column that already exists;
    3. run ``fn`` over ALL rows (one subtree execution);
    4. per target: matched rows take ``fn``'s value, others keep the
       backup (or null for brand-new columns). A target ``fn`` REMOVED
       outright (a top-level remove_field drops the column) is rebuilt
       from the backup: null for matched rows — the remove applied to
       them — and the original value for the rest.

    ``targets`` must name every column ``fn`` writes; a new column
    outside it fails loudly.
    """
    cond_name, backups = _merge_names(df, targets)
    pre = df.withColumn(cond_name, F.coalesce(cond, F.lit(False)))
    for c, b in backups.items():
        pre = pre.withColumn(b, F.col(c))
    out = fn(pre)
    # safety net: an under-declared write-set would silently apply its
    # effects to non-matching rows — fail loudly instead.
    undeclared = [
        c for c in out.columns
        if c not in pre.columns and c not in targets
    ]
    if undeclared:
        raise RuntimeError(
            f"a conditional write produced undeclared columns {undeclared};"
            " fix the stage's _targets() declaration")
    matched = F.col(cond_name)
    for c in targets:
        if c in backups:
            if c in out.columns:
                # a write that RETYPED the column (nested add_field /
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
                    # a write that DROPPED struct fields (nested
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
                    c, F.when(matched, F.col(c)).otherwise(ob))
            else:
                # the column was dropped (e.g. `if [x] { mutate {
                # remove_field => [c] } }`): null for matched rows,
                # backup for the rest
                out = out.withColumn(c, F.when(~matched, F.col(backups[c])))
        elif c in out.columns:
            out = out.withColumn(c, F.when(matched, F.col(c)))
    return out.drop(cond_name, *backups.values())


class Stage:
    """Base class. Subclasses implement ``transform``; ``apply`` runs it
    and then the common options on the rows it matched, through the one
    conditional merge with the matched predicate pinned once.

    A stage whose reference plugin tags failed events declares that
    default tag as ``FAILURE_TAG``; ``failure_tags`` is the tag list in
    effect (the ``FAILURE_OPTION`` conf override, else the default; a
    ``FAILURE_OPTION`` of None means the tag is fixed). The
    stage tags its failures with it and the pipeline's failure census
    counts it.
    """

    plugin_name = "stage"
    FAILURE_TAG: str | None = None
    FAILURE_OPTION = "tag_on_failure"

    def __init__(self, conf: dict):
        self.conf = dict(conf)
        self.id = self.conf.pop("id", None) or self.plugin_name
        self.add_field: dict[str, str] = self.conf.pop("add_field", {}) or {}
        self.add_tag = _as_list(self.conf.pop("add_tag", None))
        self.remove_field = _as_list(self.conf.pop("remove_field", None))
        self.remove_tag = _as_list(self.conf.pop("remove_tag", None))
        self.failure_tags = _as_list(
            self.conf.get(self.FAILURE_OPTION, self.FAILURE_TAG)
        ) if self.FAILURE_TAG else []

    # ---- subclass contract -------------------------------------------------
    def transform(self, df: DataFrame) -> tuple[DataFrame, Column | None]:
        raise NotImplementedError

    def _targets(self, df: DataFrame) -> list[str] | None:
        """Columns this stage writes (new or overwritten), or None when
        not statically expressible — None forces the conditional
        compiler onto the persist+filter/union fallback. Stages whose
        output depends on OTHER rows (windows, groupBys, explodes) MUST
        return None: merging a full-df computation into a conditional
        would change their semantics, not just their cost."""
        return None

    def _common_targets(self) -> list[str]:
        """Columns the common options write: the top column of every
        add_field / remove_field ref, plus tags."""
        out = [field_name(r) for r in self.add_field]
        out += [field_name(r) for r in self.remove_field]
        if self.add_tag or self.remove_tag:
            out.append(TAGS_FIELD)
        return list(dict.fromkeys(out))

    def conditional_targets(self, df: DataFrame) -> list[str] | None:
        """Full write-set under an LSCL ``if`` wrapper: the stage's own
        targets plus the common-option targets. Used by Pipeline.compile
        to lower ``if cond { stage }`` through ``_conditional_merge`` on
        the SINGLE DataFrame — the reference's Dataset#compute
        memoization equivalent (without it the upstream subtree executes
        once per conditional branch)."""
        own = self._targets(df)
        if own is None:
            return None
        return list(dict.fromkeys(list(own) + self._common_targets()))

    # ---- common-option wrapper (filters/base.rb filter_matched) ------------
    def _common_options(self, df: DataFrame) -> DataFrame:
        """add_field, add_tag, remove_field, remove_tag — in that order,
        on every row of ``df``, each option seeing the previous ones'
        writes."""
        for ref, template in self.add_field.items():
            df = set_field(df, ref, sprintf_col(template))
        df = add_tags(df, self.add_tag)
        for ref in self.remove_field:
            df = _remove_field(df, ref)
        if self.remove_tag:
            df = df.withColumn(TAGS_FIELD, F.array_except(
                F.col(TAGS_FIELD),
                F.array(*[_tag_col(t) for t in self.remove_tag])))
        return df

    def apply(self, df: DataFrame) -> DataFrame:
        """``transform``, then the common options on the rows it
        matched. A stage that matches every row (``matched`` None) runs
        them unconditionally; otherwise ``_conditional_merge`` pins
        ``matched`` once, before any option runs, and writes the
        options' targets on the matched rows only."""
        out, matched = self.transform(df)
        targets = self._common_targets()
        if targets:
            if self.add_tag or self.remove_tag:
                out = ensure_tags(out)
            if matched is None:
                out = self._common_options(out)
            else:
                out = _conditional_merge(
                    out, matched, targets, self._common_options)
        return out.drop("__matched") if "__matched" in out.columns else out


def build_stage(spec: dict | tuple[str, dict]) -> Stage:
    """``{"grok": {...}}`` (single-key dict) or ``("grok", {...})`` → Stage."""
    if isinstance(spec, tuple):
        name, conf = spec
    else:
        if len(spec) != 1:
            raise ValueError(f"stage spec must have exactly one key: {spec}")
        name, conf = next(iter(spec.items()))
    if name not in STAGE_REGISTRY:
        raise ValueError(f"unknown stage {name!r}; known: {sorted(STAGE_REGISTRY)}")
    return STAGE_REGISTRY[name](conf or {})


# convenient functional alias used by tests
def apply_stage(df: DataFrame, spec: dict) -> DataFrame:
    return build_stage(spec).apply(df)


__all__ = [
    "Stage",
    "STAGE_REGISTRY",
    "register",
    "build_stage",
    "apply_stage",
    "ensure_tags",
    "add_tags",
    "field_col",
    "field_name",
]
