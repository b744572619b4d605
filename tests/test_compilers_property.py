"""Property-based tests for the driver-side compilers (no Spark session —
pure compile + python regex, fast).  The reference has no property tests
(SURVEY.md §5); these harden the pattern compilers beyond its goldens."""

import re
import string

from hypothesis import HealthCheck, given, settings, strategies as st

from logstash_filter_elastic_integration_spark.functions.dissect import (
    compile_dissect)
from logstash_filter_elastic_integration_spark.functions.grok import (
    GROK_PATTERNS, GrokCompiler)

field_names = st.lists(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
    min_size=1, max_size=5, unique=True)
values = st.text(alphabet=string.ascii_letters + string.digits,
                 min_size=1, max_size=12)


@given(names=field_names, vals=st.data())
@settings(max_examples=200, deadline=None)
def test_dissect_roundtrip(names, vals):
    """Any '|'-delimited dissect pattern extracts exactly the values that
    built the line."""
    pattern = "|".join("%{" + n + "}" for n in names)
    vs = [vals.draw(values) for _ in names]
    line = "|".join(vs)
    compiled = compile_dissect(pattern)
    m = re.match(compiled.regex, line)
    assert m is not None
    got = {compiled.group_map[g]: m.group(g) for g in compiled.group_map}
    assert got == dict(zip(names, vs))


@given(st.sampled_from(sorted(GROK_PATTERNS)))
@settings(max_examples=100, deadline=None)
def test_grok_bank_all_compile(name):
    """Every bank pattern expands to a valid python regex with a capture."""
    compiled = GrokCompiler().compile([f"%{{{name}:x}}"])
    # composite bank patterns (e.g. TOMCATLOG) add their own named captures
    assert compiled.fields.get("x") == "string"
    assert compiled.regexes[0].groups >= 1


@given(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255),
       st.integers(0, 255))
@settings(max_examples=100, deadline=None)
def test_grok_ipv4_matches_all_octets(a, b, c, d):
    ip = f"{a}.{b}.{c}.{d}"
    compiled = GrokCompiler().compile(["^%{IPV4:ip}$"])
    m = compiled.regexes[0].search(ip)
    assert m is not None and m.group("g0") == ip


@given(st.text(alphabet=string.printable, max_size=40))
@settings(max_examples=200, deadline=None)
def test_dissect_literal_delimiters_never_crash(s):
    """Arbitrary literal text around one field always compiles and either
    matches (capturing the middle) or cleanly fails."""
    pattern = s.replace("%", "") + "%{f}"
    compiled = compile_dissect(pattern)
    re.compile(compiled.regex)  # valid


def test_painless_condition_null_safety(spark):
    """Conditions on missing/null fields evaluate to false, never error."""
    from logstash_filter_elastic_integration_spark.functions.painless import (
        compile_condition)
    from pyspark.sql import functions as F, types as T

    def resolve(path):
        return F.lit(None).cast("string"), T.StringType()

    col = compile_condition("ctx?.missing == 'x' && ctx.other != null", resolve)
    rows = spark.range(1).select(col.alias("v")).collect()
    assert rows[0]["v"] is False


def test_painless_string_literals_protected(spark):
    """Token rewrites must never run inside quoted literals (ADVICE r1):
    'Hello!', 'a && b', 'null', and ; = ? : { } inside strings all survive
    verbatim."""
    from logstash_filter_elastic_integration_spark.functions.painless import (
        compile_condition, compile_script)
    from pyspark.sql import functions as F, types as T

    def mk_resolve(value):
        def resolve(path):
            return F.lit(value), T.StringType()
        return resolve

    def check(cond, value, expect):
        col = compile_condition(cond, mk_resolve(value))
        assert spark.range(1).select(col.alias("v")).collect()[0]["v"] is expect

    check("ctx.msg == 'Hello!'", "Hello!", True)
    check("ctx.msg == 'Hello!'", "Hello not ", False)
    check("ctx.msg == 'a && b'", "a && b", True)
    check("ctx.msg == 'null'", "null", True)
    check("ctx.msg != 'true || false'", "true || false", False)
    check('ctx.msg == "semi;colon = ok?yes:no"', "semi;colon = ok?yes:no", True)
    check("ctx.msg.contains('?.')", "x?.y", True)

    # script: literal containing ; and = must not split the statement
    assigns = compile_script("ctx.out = 'a;b=c';", mk_resolve("ignored"))
    assert assigns[0][0] == "out"
    got = spark.range(1).select(assigns[0][1].alias("v")).collect()[0]["v"]
    assert got == "a;b=c"

    # escaped quote inside literal
    check(r"ctx.msg == 'it\'s'", "it's", True)


def test_grok_backtracking_risk_detector():
    """Compile-time nested-quantifier detection routes patterns between the
    vectorized fast path and the per-row watchdog path."""
    from logstash_filter_elastic_integration_spark.functions.grok import (
        GrokCompiler, has_nested_quantifier)

    assert has_nested_quantifier(r"(a+)+c")
    assert has_nested_quantifier(r"(a?)*x")
    assert has_nested_quantifier(r"(x|y+)*z")
    assert has_nested_quantifier(r"([^/]+/)*end")
    assert not has_nested_quantifier(r"(\d+)\.(\d+)")
    assert not has_nested_quantifier(r"(?:abc)+")
    assert not has_nested_quantifier(r"^\w+ [a-z]* (x|y)?$")
    # '?'-quantified groups with inner quantifiers are safe (single pass)
    assert not has_nested_quantifier(r"(?:[0-9]+)? tail")
    # anchored-first-atom repeats are at worst polynomial -> fast path
    assert not has_nested_quantifier(r"(?:ab[0-9]{1,3})*tail")
    assert not has_nested_quantifier(r"(?:/[A-Za-z0-9._-]*)+")

    c = GrokCompiler()
    flagship = c.compile(["^%{INT:a:int} %{WORD:b}$"])
    assert flagship.risky == [False]       # fast vectorized path
    assert c.compile(["%{URIPATHPARAM:p}"]).risky == [False]  # '/'-anchored
    # QUOTEDSTRING's stripped (\\.|[^\\"]+)+ IS exponential -> watchdog
    assert c.compile(["%{QS:q}"]).risky == [True]


def test_grok_worker_compile_cache_is_bounded():
    """The worker-side grok compile cache keeps at most 64 pattern sets."""
    from logstash_filter_elastic_integration_spark.functions.grok import (
        cached_compile)

    cached_compile.cache_clear()
    for i in range(80):
        cached_compile((f"^{i} %{{WORD:w}}$",))
    info = cached_compile.cache_info()
    assert info.misses == 80 and info.currsize <= 64
    assert list(cached_compile(("^79 %{WORD:w}$",)).fields) == ["w"]
    assert cached_compile.cache_info().hits == 1


# -------------------------- painless interpreter surface (r3 additions) ----

painless_idents = st.text(alphabet=string.ascii_lowercase, min_size=1,
                          max_size=6).filter(
    lambda s: s not in {"if", "for", "def", "int", "var", "new", "in",
                        "else", "while", "null", "true", "false", "not",
                        "and", "or", "char", "long", "byte", "ctx"})


@given(keys=st.lists(painless_idents, min_size=1, max_size=4, unique=True),
       vals=st.lists(st.integers(-1000, 1000), min_size=4, max_size=4))
@settings(max_examples=100, deadline=None)
def test_map_literal_roundtrip(keys, vals):
    """A painless map literal built from arbitrary keys/ints reads back
    every entry through Java Map methods."""
    from logstash_filter_elastic_integration_spark.functions.painless_exec import (
        CompiledScript)
    entries = ", ".join(f"'{k}': {v}" for k, v in zip(keys, vals))
    reads = " + ".join(f"m.get('{k}')" for k in keys)
    cs = CompiledScript(
        f"def m = [{entries}]; for (int i = 0; i < 1; i++) {{ }} "
        f"ctx.total = {reads}; ctx.n = m.size();")
    out = cs.run_row({})
    assert out["n"] == len(keys)
    assert out["total"] == sum(vals[:len(keys)])


@given(s=st.text(alphabet=string.ascii_letters + string.digits + " .,-",
                 max_size=40),
       needle=st.text(alphabet=string.ascii_lowercase, min_size=1,
                      max_size=5))
@settings(max_examples=150, deadline=None)
def test_regex_find_matches_python_semantics(s, needle):
    """ctx.s =~ /<literal needle>/ agrees with python re.search on any
    input string (the needle is alphabetic — no metacharacters)."""
    from logstash_filter_elastic_integration_spark.functions.painless_exec import (
        CompiledScript)
    cs = CompiledScript(
        "for (int i = 0; i < 1; i++) { } "
        f"ctx.hit = ctx.s =~ /{needle}/;")
    assert cs.run_row({"s": s})["hit"] == bool(re.search(needle, s))


@given(a=st.one_of(st.none(), st.integers(-5, 5),
                   st.text(alphabet="ab", max_size=2)),
       b=st.integers(-5, 5))
@settings(max_examples=100, deadline=None)
def test_elvis_is_null_coalesce_not_truthiness(a, b):
    from logstash_filter_elastic_integration_spark.functions.painless_exec import (
        CompiledScript)
    cs = CompiledScript(
        "for (int i = 0; i < 1; i++) { } ctx.r = ctx.a ?: ctx.b;")
    out = cs.run_row({"a": a, "b": b})
    assert out["r"] == (b if a is None else a)


# ----------------------- pipeline-DSL compile robustness (fuzz) ------------

_PROC_TEMPLATES = [
    lambda f, v: {"set": {"field": f, "value": v}},
    lambda f, v: {"rename": {"field": f, "target_field": f + "_r",
                             "ignore_missing": True}},
    lambda f, v: {"convert": {"field": f, "type": "string",
                              "ignore_missing": True,
                              "ignore_failure": True}},
    lambda f, v: {"lowercase": {"field": f, "ignore_missing": True}},
    lambda f, v: {"trim": {"field": f, "ignore_missing": True}},
    lambda f, v: {"gsub": {"field": f, "pattern": "a", "replacement": v,
                           "ignore_missing": True}},
    lambda f, v: {"append": {"field": f + "_arr", "value": [v]}},
    lambda f, v: {"kv": {"field": f, "field_split": " ", "value_split": "=",
                         "ignore_missing": True}},
    lambda f, v: {"script": {"source": f"ctx.{f}_s = ctx.{f} ?: '{v}';"}},
    lambda f, v: {"drop": {"if": f"ctx.{f} == '{v}'"}},
    lambda f, v: {"remove": {"field": f, "ignore_missing": True}},
]


@given(st.data())
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_random_pipeline_compiles_or_fails_loud(spark, registry, data):
    """ANY random chain assembled from the processor templates must either
    compile + run, or raise a clear builder error — never a deep
    Py4J/analysis crash from inside the plan."""
    import random as _r

    from logstash_filter_elastic_integration_spark.plans import run_pipeline
    k = data.draw(st.integers(1, 6))
    fields = ["fa", "fb", "fc"]
    procs = []
    for i in range(k):
        t = data.draw(st.sampled_from(_PROC_TEMPLATES))
        f = data.draw(st.sampled_from(fields))
        v = data.draw(st.text(alphabet=string.ascii_lowercase, min_size=1,
                              max_size=5))
        procs.append(t(f, v))
    name = f"fz{_r.randrange(1 << 30)}"
    registry.register(name, {"processors": procs})
    df = spark.createDataFrame(
        [("x=1 y", "b", "c"), (None, "b2", None)],
        "fa string, fb string, fc string")
    out = run_pipeline(df, name, registry)   # must not raise
    rows = out.collect()                     # must execute
    assert len(rows) <= 2                    # drop may remove rows
