"""Lookup-enrichment processors: ``lookup`` (generic) and ``geoip``.

The reference's geoip processor resolves IPs against MaxMind .mmdb
databases discovered on disk (geoip/IpDatabaseProvider.java:36-99); a
missing database tags the event ``_geoip_database_unavailable_<db>``
(spec/integration/elastic_integration_spec.rb:1034-1049).

Spark-first shape: every lookup database is a *broadcast dimension*
registered on the PipelineRegistry (``registry.dims[name]``).  Each dim
is collected to the driver once per registry (``local_dim``: rows plus
schema — dims are tiny by contract, and the reference likewise loads whole
lookup databases into memory on every node); deduping and range
segmentation then run in Python over those rows, so compiling a lookup
runs no Spark job (collecting a ``LocalRelation`` dim — role/tool dims,
.mmdb loads — runs none either).  A small string-keyed dim compiles to
one map literal probed per row; other dims become a ``LocalRelation``
joined with ``F.broadcast`` — no shuffle of the fact side at any scale.
Miss-path parity: unmatched keys simply add no fields; a missing *database*
adds the unavailable tag like the reference.
"""

from __future__ import annotations

import bisect
import math

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.document import fcol, field_type, guarded
from ..session import local_frame


def _lookup_key(df, cfg, f_name):
    """Probe-key column.  Array-valued fields follow the ES geoip
    ``first_only`` contract (default true): resolve the FIRST element.
    first_only=false takes the per-element multi path instead (see
    _multi_exact / _multi_range) — callers branch before reaching here."""
    key = fcol(f_name)
    if isinstance(field_type(df, f_name), T.ArrayType):
        key = F.element_at(key, 1)
    return key


def _is_multi(df, cfg, f_name):
    return (isinstance(field_type(df, f_name), T.ArrayType)
            and not cfg.get("first_only", True))


# Above this many dim entries the per-element lookup literal would bloat
# the plan / break codegen; switch to a broadcast-variable pandas UDF.
_MULTI_LITERAL_CAP = 1024


def _multi_emit(df, active, target, looked):
    """ES GeoIpProcessor list semantics (ingest-geoip GeoIpProcessor.java,
    public ES source): one entry per input element, null placeholder for
    elements that do not resolve, and the target is only set when at
    least one element resolved."""
    any_hit = F.exists(looked, lambda s: s.isNotNull())
    return guarded(df, active & F.coalesce(any_hit, F.lit(False)),
                   {target: looked})


def _props_struct(schema, props):
    """Value struct type of a lookup: the dim's property columns."""
    return T.StructType(
        [T.StructField(p, schema[p].dataType) for p in props])


def _struct_lit(r, struct_t):
    """One prepared dim row's properties as a struct literal."""
    return F.struct(*[F.lit(r[f.name]).cast(f.dataType).alias(f.name)
                      for f in struct_t.fields])


def _multi_exact(df, rows, key_col, struct_t, f_name, target, active):
    """first_only=false over an exact-key dim: per-element resolution.

    Literal-sized dims compile to a map literal + ``transform`` — pure
    Column, whole-stage codegen, zero shuffle.  Bigger dims ship as a
    ``sparkContext.broadcast`` dict probed by an Arrow-batched pandas
    UDF — the reference's shape exactly (ES loads the whole lookup
    database into memory on every node) and still zero shuffle; only
    rows taking the multi path pay the Python hop."""
    props = struct_t.names
    arr = fcol(f_name).cast("array<string>")
    if not rows:
        looked = F.transform(
            arr, lambda x: F.lit(None).cast(struct_t))
    elif len(rows) <= _MULTI_LITERAL_CAP:
        m = F.create_map(*[c for r in rows for c in (
            F.lit(str(r[key_col])), _struct_lit(r, struct_t))])
        looked = F.transform(arr, lambda x: F.try_element_at(m, x))
    else:
        bc = df.sparkSession.sparkContext.broadcast(
            {str(r[key_col]): {p: r[p] for p in props} for r in rows})

        @F.pandas_udf(T.ArrayType(struct_t))
        def _mlook(col):
            mp = bc.value
            return col.apply(
                lambda xs: None if xs is None
                else [mp.get(None if x is None else str(x)) for x in xs])

        looked = _mlook(arr)
    return _multi_emit(df, active, target, looked)


def _multi_range(df, segs, struct_t, f_name, target, active):
    """first_only=false over a range dim (disjoint ``(lo, hi, props)``
    segments in ``lo`` order): literal segment-array + per-element filter
    for small dims; numpy searchsorted over broadcast sorted bounds for
    real .mmdb-sized ones."""
    from .net import _ip4_to_long

    props = struct_t.names
    arr = fcol(f_name).cast("array<string>")

    def _key_long(x):
        return F.when(x.rlike(r"^(\d{1,3}\.){3}\d{1,3}$"),
                      _ip4_to_long(x)).otherwise(x.try_cast("long"))

    if not segs:
        looked = F.transform(arr, lambda x: F.lit(None).cast(struct_t))
    elif len(segs) <= _MULTI_LITERAL_CAP:
        seg = F.array(*[F.struct(
            F.lit(int(r[0])).alias("lo"), F.lit(int(r[1])).alias("hi"),
            _struct_lit(dict(zip(props, r[2:])), struct_t).alias("v"))
            for r in segs])

        def one(x):
            kl = _key_long(x)
            hit = F.filter(seg, lambda s: (kl >= s["lo"]) & (kl <= s["hi"]))
            return F.get(hit, 0)["v"]

        looked = F.transform(arr, one)
    else:
        import numpy as np
        bc = df.sparkSession.sparkContext.broadcast((
            np.array([int(r[0]) for r in segs], dtype="int64"),
            np.array([int(r[1]) for r in segs], dtype="int64"),
            [dict(zip(props, r[2:])) for r in segs]))

        @F.pandas_udf(T.ArrayType(struct_t))
        def _mlook(col):
            import socket
            import struct as _struct
            los, his, vals = bc.value

            def to_long(x):
                if x is None:
                    return None
                try:
                    return _struct.unpack(
                        "!I", socket.inet_aton(str(x)))[0]
                except OSError:
                    try:
                        return int(x)
                    except ValueError:
                        return None

            def one(xs):
                if xs is None:
                    return None
                out = []
                for x in xs:
                    k = to_long(x)
                    if k is None:
                        out.append(None)
                        continue
                    i = int(np.searchsorted(los, k, side="right")) - 1
                    out.append(vals[i] if i >= 0 and k <= his[i] else None)
                return out

            return col.apply(one)

        looked = _mlook(arr)
    return _multi_emit(df, active, target, looked)


def sort_key(v, dt):
    """Python key ordering values of Spark type ``dt`` the way Spark's
    ascending sort does: nulls first, NaN above every other double, -0.0
    equal to 0.0, structs and arrays element-wise.  Equal keys are also
    what Spark groups together (floating-point keys normalized)."""
    if v is None:
        return (0,)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return (1, 1, 0.0) if math.isnan(v) else (1, 0, v + 0.0)
    if isinstance(dt, T.StructType):
        return (1, tuple(sort_key(x, f.dataType)
                         for x, f in zip(v, dt.fields)))
    if isinstance(dt, T.ArrayType):
        return (1, tuple(sort_key(x, dt.elementType) for x in v))
    if isinstance(dt, T.BinaryType):
        return (1, bytes(v))
    return (1, v)


def _props_key(schema, props):
    fields = [(p, schema[p].dataType) for p in props]
    return lambda r: tuple(sort_key(r[p], dt) for p, dt in fields)


def dedupe_rows(rows, schema, key_col: str, props: list[str]):
    """One record per key (reference returns exactly one per IP/lookup key):
    duplicate dim keys in a left join would MULTIPLY fact rows and corrupt
    downstream sink counts.  Deterministic pick: smallest property tuple
    in Spark's ascending order.  A NULL key never matches a lookup, so its
    rows are dropped."""
    key_dt = schema[key_col].dataType
    order = _props_key(schema, props or [key_col])
    best: dict = {}
    for r in rows:
        if r[key_col] is None:
            continue
        k, o = sort_key(r[key_col], key_dt), order(r)
        if k not in best or o < best[k][0]:
            best[k] = (o, r)
    return [r for _, r in best.values()]


def disjoint_narrowest(rows, schema, lo: str, hi: str, props: list[str]):
    """Rewrite an overlapping range dim into DISJOINT segments where each
    point maps to its narrowest covering range (CIDR semantics: most-
    specific prefix wins — normal in geoip data).  Boundary sweep: every
    [lo, hi] contributes boundaries lo and hi+1; adjacent boundaries form
    segments; a range covers a run of segments entirely or not at all.
    Ranges are taken narrowest first (then lowest ``lo``, then smallest
    property tuple) and each claims the segments no narrower range has.
    Done on the driver over the collected dim, so the fact join stays a
    broadcast range join with at most ONE match per row.
    -> ``(lo, hi, *props)`` tuples in ``lo`` order."""
    bounds = sorted({b for r in rows
                     for b in (r[lo], None if r[hi] is None else r[hi] + 1)
                     if b is not None})
    nseg = len(bounds) - 1
    pick = [None] * max(nseg, 0)
    nxt = list(range(nseg + 1))  # next segment no range has claimed yet

    def free(i):
        while nxt[i] != i:
            nxt[i] = nxt[nxt[i]]
            i = nxt[i]
        return i

    props_key = _props_key(schema, props)
    ranges = sorted((r for r in rows
                     if r[lo] is not None and r[hi] is not None),
                    key=lambda r: (r[hi] - r[lo], r[lo], props_key(r)))
    for r in ranges:
        i = free(bisect.bisect_left(bounds, r[lo]))
        while i < nseg and bounds[i + 1] - 1 <= r[hi]:
            pick[i] = r
            nxt[i] = i + 1
            i = free(i + 1)
    return [(bounds[i], bounds[i + 1] - 1, *[r[p] for p in props])
            for i, r in enumerate(pick) if r is not None]


def _broadcast_lookup(df, spec, ctx, dim_name: str, default_target: str,
                      unavailable_tag: str | None):
    cfg = spec.config
    f_name = cfg["field"]
    target = cfg.get("target_field", default_target)
    active = ctx.active(df, spec)
    dims = getattr(ctx.registry, "dims", {})
    if dim_name not in dims:
        # reference behavior: tag and continue (not a failure)
        if unavailable_tag:
            tag = F.lit(unavailable_tag)
            return df.withColumn(
                "tags",
                F.when(active, F.array_union(
                    F.coalesce(fcol("tags"), F.array().cast("array<string>")),
                    F.array(tag))).otherwise(fcol("tags")))
        return ctx.fail(df, active, spec, f"lookup table [{dim_name}] not registered")
    if f_name not in df.columns:
        if not cfg.get("ignore_missing", False):
            df = ctx.fail(df, active, spec,
                          f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    rows, schema = ctx.registry.local_dim(dim_name)
    key_col = cfg.get("lookup_key", schema.names[0])
    props = cfg.get("properties") or [c for c in schema.names if c != key_col]
    rows = dedupe_rows(rows, schema, key_col, props)
    struct_t = _props_struct(schema, props)
    if _is_multi(df, cfg, f_name):
        return _multi_exact(df, rows, key_col, struct_t, f_name, target,
                            active)
    # literal-map fast path (r6, guide §2.4/§3.1): a tiny string-keyed dim
    # compiles to ONE map literal probed per row — no BroadcastExchange, no
    # hash-join output-row copy, and the probe fuses into the surrounding
    # whole-stage codegen span instead of splitting it.  Measured on the
    # flagship (1M rows, local[32]): the two role/tool lookups cost +0.54s
    # as broadcast hash joins (the wide working row is re-copied through
    # each join) vs ~0.05s as fused map probes.  Join-path parity: the dim
    # is already deduped and NULL-keyed rows dropped; a NULL probe key
    # returns NULL (miss).  Non-string keys keep the join (map probes in
    # string space would change coercion).
    if (props and isinstance(schema[key_col].dataType, T.StringType)
            and len(rows) <= _MULTI_LITERAL_CAP):
        tmp = "__lkv_" + dim_name.replace(".", "_")
        if rows:
            m = F.create_map(*[c for r in rows for c in (
                F.lit(r[key_col]), _struct_lit(r, struct_t))])
            looked = F.try_element_at(
                m, _lookup_key(df, cfg, f_name).cast("string"))
        else:
            looked = F.lit(None).cast(struct_t)
        df = df.withColumn(tmp, looked)
        updates = {f"{target}.{p}": fcol(tmp)[p] for p in props}
        df = guarded(df, active, updates)
        return df.drop(tmp)
    joined = "__lk_" + dim_name
    renamed = local_frame(
        df.sparkSession, [(r[key_col], *[r[p] for p in props]) for r in rows],
        T.StructType([T.StructField(joined, schema[key_col].dataType)]
                     + [T.StructField(f"{joined}.{p}", schema[p].dataType)
                        for p in props]))
    df = df.join(F.broadcast(renamed),
                 _lookup_key(df, cfg, f_name).cast("string") == fcol(joined),
                 "left")
    updates = {f"{target}.{p}": fcol(f"{joined}.{p}") for p in props}
    df = guarded(df, active, updates)
    return df.drop(joined, *[f"{joined}.{p}" for p in props])


def _broadcast_range_lookup(df, spec, ctx, dim_name: str, default_target: str):
    """Range-keyed lookup (SURVEY.md §2.4 geoip row: IP-range dims -> range
    join on (start,end)).  The dim carries ``range_keys: [lo_col, hi_col]``
    (numeric, e.g. IPv4-as-long); the probe key is the field cast to long
    (dotted-quad converted via bit math, pure JVM).  Compiles to a broadcast
    nested-loop range join — correct shape for a small dim at any fact
    scale; a large dim would instead be bucketed by prefix."""
    from .net import _ip4_to_long

    cfg = spec.config
    f_name = cfg["field"]
    target = cfg.get("target_field", default_target)
    lo, hi = cfg["range_keys"]
    active = ctx.active(df, spec)
    if f_name not in df.columns:
        if not cfg.get("ignore_missing", False):
            return ctx.fail(df, active, spec,
                            f"field [{f_name}] not present as part of path [{f_name}]")
        return df
    key = _lookup_key(df, cfg, f_name).cast("string")
    key_long = F.when(key.rlike(r"^(\d{1,3}\.){3}\d{1,3}$"), _ip4_to_long(key)) \
        .otherwise(key.try_cast("long"))
    rows, schema = ctx.registry.local_dim(dim_name)
    props = cfg.get("properties") or [c for c in schema.names if c not in (lo, hi)]
    segs = disjoint_narrowest(rows, schema, lo, hi, props)
    struct_t = _props_struct(schema, props)
    if _is_multi(df, cfg, f_name):
        return _multi_range(df, segs, struct_t, f_name, target, active)
    joined = "__rlk_" + dim_name.replace(".", "_")
    lo_t, hi_t = schema[lo].dataType, schema[hi].dataType
    bound_t = lo_t if lo_t == hi_t else T.LongType()
    renamed = local_frame(df.sparkSession, segs, T.StructType(
        [T.StructField(f"{joined}_lo", bound_t),
         T.StructField(f"{joined}_hi", bound_t)]
        + [T.StructField(f"{joined}.{p}", schema[p].dataType)
           for p in props]))
    df = df.withColumn(f"{joined}_key", key_long)
    df = df.join(F.broadcast(renamed),
                 (fcol(f"{joined}_key") >= fcol(f"{joined}_lo"))
                 & (fcol(f"{joined}_key") <= fcol(f"{joined}_hi")), "left")
    updates = {f"{target}.{p}": fcol(f"{joined}.{p}") for p in props}
    df = guarded(df, active, updates)
    return df.drop(f"{joined}_key", f"{joined}_lo", f"{joined}_hi",
                   *[f"{joined}.{p}" for p in props])


def p_lookup(df, spec, ctx):
    """Generic broadcast-dimension enrich (role/tool metadata per the north
    rule).  config: field, table, target_field, properties, lookup_key."""
    table = spec.config["table"]
    return _broadcast_lookup(df, spec, ctx, table,
                             default_target=table,
                             unavailable_tag=f"_lookup_table_unavailable_{table}")


def p_geoip(df, spec, ctx):
    """geoip with broadcast dim standing in for the .mmdb file; missing dim
    -> tag `_geoip_database_unavailable_<db>` (reference parity).  A dim
    with ``range_keys`` config resolves by CIDR/IP range instead of exact
    key (the real .mmdb shape).  ``database_path`` ingests an actual
    MaxMind .mmdb file (sources/mmdb.py parses the public binary format
    into the range dim — the IpDatabaseProvider.java:36-99 load path)."""
    db = spec.config.get("database_file", "GeoLite2-City.mmdb")
    dims = getattr(ctx.registry, "dims", {})
    if db not in dims and spec.config.get("database_path"):
        from ..sources.mmdb import load_mmdb_dim
        dims[db] = load_mmdb_dim(df.sparkSession,
                                 spec.config["database_path"])
        spec.config.setdefault("range_keys", ["lo", "hi"])
    if ("range_keys" not in spec.config and db in dims
            and {"lo", "hi"}.issubset(set(dims[db].columns))):
        # a dim ingested from a real .mmdb (engine geoip_database_directory
        # or load_mmdb_dim) carries lo/hi range columns — resolve by range
        spec.config["range_keys"] = ["lo", "hi"]
    if "range_keys" in spec.config and db in dims:
        return _broadcast_range_lookup(
            df, spec, ctx, db,
            default_target=spec.config.get("target_field", "geoip"))
    return _broadcast_lookup(df, spec, ctx, db,
                             default_target=spec.config.get("target_field", "geoip"),
                             unavailable_tag=f"_geoip_database_unavailable_{db}")
