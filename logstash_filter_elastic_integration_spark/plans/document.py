"""Document/field model: ES field paths <-> flat DataFrame columns.

The reference's working document is a mutable nested ``Map<String,Object>``
(IngestDuplexMarshaller.java:79-102).  A nested MapType column would defeat
Catalyst (no pruning, no codegen on map values), so we flatten: ES field
path ``a.b.c`` is a *flat* DataFrame column literally named ``"a.b.c"``.
Column creation (`withColumn`) treats the name literally; only resolution
interprets dots, so all reads go through :func:`fcol` which backtick-quotes.

Reserved engine columns (``__``-prefixed) carry per-row pipeline state —
the Spark analogue of the IngestDocument metadata + the failure/cancel
bookkeeping in EventProcessor.java:171-252.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# engine state columns; never visible to user pipelines as fields
FAILURE = "__failure"          # struct(pipeline, processor_type, processor_tag, message)
TERMINATED = "__terminated"    # bool: `terminate` processor fired
DROPPED = "__dropped"          # bool: `drop` processor fired (event cancelled, kept)
REROUTED = "__rerouted"        # bool: `reroute` fired -> ends current pipeline
PRISTINE = "__pristine"        # struct snapshot of the pre-pipeline row
INDEX_HISTORY = "__index_history"  # array<string>: visited _index values (cycle det.)
NULLSET = "__nullset"          # array<string>: fields EXPLICITLY written null
SCALARSET = "__scalarset"      # array<string>: fields whose value in an
# array-promoted column is semantically still a SCALAR for this row
# (append's per-row parity — see p_append)
RESERVED = (FAILURE, TERMINATED, DROPPED, REROUTED, PRISTINE, INDEX_HISTORY,
            NULLSET, SCALARSET)

FAILURE_TYPE = T.StructType([
    T.StructField("pipeline", T.StringType()),
    T.StructField("processor_type", T.StringType()),
    T.StructField("processor_tag", T.StringType()),
    T.StructField("message", T.StringType()),
])


def fcol(name: str) -> Column:
    """Reference a flat column whose name may contain dots."""
    return F.col("`" + name + "`")


def has_field(df: DataFrame, path: str) -> bool:
    return path in df.columns


def field_type(df: DataFrame, path: str):
    for f in df.schema.fields:
        if f.name == path:
            return f.dataType
    return None


def resolve_field(df: DataFrame, path: str):
    """-> (Column, DataType|None).  A path with no static column falls back
    to the ``_extras`` dynamic-field map (populated by kv/json dynamic
    keys — lift-on-read), then to typed-null (string), mirroring ES
    ``ctx.missing == null`` semantics."""
    dt = field_type(df, path)
    if dt is None:
        if "_extras" in df.columns and not path.startswith("_"):
            return (F.try_element_at(fcol("_extras"), F.lit(path)),
                    T.StringType())
        return F.lit(None).cast("string"), None
    return fcol(path), dt


_EMPTY_STRS = "array<string>"


def present_expr(df: DataFrame, path: str) -> Column:
    """Per-row 'field present' — the ES ``ctx.containsKey`` contract.

    The reference document is a mutable map where a key can hold an
    explicit null (``ctx.f = null`` -> containsKey true), distinct from
    the key being absent (IngestDuplexMarshaller.java:144-152).  Flat
    columns canonically use SQL NULL for *absent*; the ``__nullset``
    registry records the fields a set/script wrote null into per row, so
    present-null != missing survives the flat encoding."""
    if path in df.columns:
        p = fcol(path).isNotNull()
        if NULLSET in df.columns:
            p = p | F.array_contains(
                F.coalesce(fcol(NULLSET), F.array().cast(_EMPTY_STRS)),
                F.lit(path))
        return p
    if "_extras" in df.columns and not path.startswith("_"):
        return F.coalesce(
            F.map_contains_key(fcol("_extras"), F.lit(path)), F.lit(False))
    return F.lit(False)


def nullset_update(df: DataFrame, path: str, added: Column,
                   cleared: Column) -> DataFrame:
    """Maintain the explicit-null registry: rows where ``added`` holds gain
    ``path`` in ``__nullset``; rows where ``cleared`` holds lose it."""
    base = fcol(NULLSET) if NULLSET in df.columns \
        else F.array().cast(_EMPTY_STRS)
    base = F.coalesce(base, F.array().cast(_EMPTY_STRS))
    upd = (F.when(F.coalesce(added, F.lit(False)),
                  F.array_union(base, F.array(F.lit(path))))
           .when(F.coalesce(cleared, F.lit(False)),
                 F.array_remove(base, path))
           .otherwise(base))
    return df.withColumn(NULLSET, upd)


def scalarset_update(df: DataFrame, path: str, added: Column,
                     cleared: Column) -> DataFrame:
    """Maintain the per-row scalar registry for array-promoted columns.

    The reference document is a per-row mutable map: ``append`` on a
    scalar field turns THAT row's value into a list, while other rows
    keep their scalar (IngestDocument.appendFieldValue).  A typed
    columnar schema must promote the whole column to array, so rows the
    append did NOT touch record their path here; readers (painless
    interpreter, per-row renderings) unwrap a registered 1-element array
    back to its scalar.  Rows a later append DOES touch are cleared —
    their value is genuinely a list from then on."""
    base = fcol(SCALARSET) if SCALARSET in df.columns \
        else F.array().cast(_EMPTY_STRS)
    base = F.coalesce(base, F.array().cast(_EMPTY_STRS))
    upd = (F.when(F.coalesce(added, F.lit(False)),
                  F.array_union(base, F.array(F.lit(path))))
           .when(F.coalesce(cleared, F.lit(False)),
                 F.array_remove(base, path))
           .otherwise(base))
    return df.withColumn(SCALARSET, upd)


def row_is_scalar(df: DataFrame, path: str) -> Column:
    """Per-row: does this row hold `path` as a semantic scalar despite an
    array-typed column?  False everywhere when no promotion happened."""
    if SCALARSET not in df.columns:
        return F.lit(False)
    return F.array_contains(
        F.coalesce(fcol(SCALARSET), F.array().cast(_EMPTY_STRS)),
        F.lit(path))


def resolver_for(df: DataFrame):
    def resolve(path: str):
        if path == "_index":
            return resolve_field(df, "_index")
        return resolve_field(df, path)
    # presence probe for containsKey lowerings (explicit-null aware)
    resolve.present = lambda path: present_expr(df, path)
    return resolve


def probe_type(df: DataFrame, col: Column):
    """Driver-side analysis of an expression's type (no job runs)."""
    return df.select(col.alias("__probe")).schema[0].dataType


def coerce_old(df: DataFrame, name: str, new: Column):
    """Old-value expression coerced to the *new* column type, for rows where
    an update does not apply.  Handles the ES dynamic-typing cases our static
    schema must absorb: scalar->array promotion (append/split) and
    array->scalar narrowing (join) via cast; incompatible -> typed null."""
    old_dt = field_type(df, name)
    old = fcol(name)
    new_dt = probe_type(df, new)
    if old_dt == new_dt or new_dt is None:
        return old
    if isinstance(new_dt, T.ArrayType) and new_dt.elementType == old_dt:
        return F.when(old.isNotNull(), F.array(old))
    try:
        probe_type(df, old.try_cast(new_dt))
        # try_cast, not cast: ANSI cast would throw at run time on rows the
        # update didn't even apply to
        return old.try_cast(new_dt)
    except Exception:
        return F.lit(None).cast(new_dt)


def guarded(df: DataFrame, cond: Column, updates: dict[str, Column]) -> DataFrame:
    """Apply column updates only where ``cond``; elsewhere keep the old value
    (or null when the column is new).  This is the per-row `if`/failure gate
    — compiled straight into `F.when`, stays inside whole-stage codegen.
    Type-changing updates coerce the kept old value to the new type."""
    out = {}
    for name, new in updates.items():
        if name in df.columns:
            old_dt = field_type(df, name)
            try:
                new_dt = probe_type(df, new)
            except Exception:
                new_dt = old_dt
            # a null-literal write (NullType) must not degrade the column:
            # when() coerces void+T -> T, keeping the existing type
            keep = (fcol(name)
                    if new_dt == old_dt or isinstance(new_dt, T.NullType)
                    else coerce_old(df, name, new))
            out[name] = F.when(cond, new).otherwise(keep)
        else:
            out[name] = F.when(cond, new)
    return df.withColumns(out)


def drop_fields(df: DataFrame, cond: Column, names: list[str]) -> DataFrame:
    """Per-row conditional field removal.  Columns are schema-global, so a
    truly-removed column only happens when cond is literally `true`;
    otherwise the value is nulled where cond holds."""
    always = cond is None
    for name in names:
        if name not in df.columns:
            continue
        if always:
            df = df.drop(name)
        else:
            df = df.withColumn(name, F.when(~cond, fcol(name)))
    return df
