"""Compiled-plan reuse (plans/compiler.py): ``compile_flat`` and
``compile_variant`` keep one compiled Column plan per (schema content,
options, mode, context) in a bounded LRU, so repeated engine calls on the
same schema skip the driver-side rebuild. A hit must be indistinguishable
from a fresh compile; anything the compile reads must be part of the key."""
import copy

import pytest
from pyspark.sql import functions as F, types as T

from jsonschema_spark import annotate, compile_schema, trace, validate, violations
from jsonschema_spark.plans import compiler
from jsonschema_spark.plans.registry import register_keyword, unregister_keyword
from jsonschema_spark.plans.serialize import schema_fingerprint

TREE_SCHEMA = {
    "type": "object",
    "required": ["id", "tags"],
    "properties": {
        "id": {"type": "integer", "minimum": 1},
        "tags": {"type": "array", "items": {"type": "string", "maxLength": 3}},
        "meta": {"type": "object", "additionalProperties": {"type": "number"}},
    },
}

DOCS_A = [
    (1, '{"id": 1, "tags": ["a", "bb"]}'),
    (2, '{"id": 0, "tags": ["toolong"], "meta": {"x": "s"}}'),
    (3, '{"tags": []}'),
    (4, "{oops"),
]
DOCS_B = [
    (10, '{"id": 5, "tags": ["abc"], "meta": {"y": 1.5}}'),
    (11, '{"id": "5", "tags": [1, "abcd"]}'),
    (12, None),
]


@pytest.fixture(autouse=True)
def empty_cache():
    compiler._plan_cache.clear()
    yield
    compiler._plan_cache.clear()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, doc string")


def _verdicts(df):
    return sorted((r["id"], r["valid"]) for r in df.collect())


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_hit_on_second_dataframe_matches_uncached_compile(spark):
    a, b = _docs(spark, DOCS_A), _docs(spark, DOCS_B)
    validate(a, TREE_SCHEMA, doc_col="doc").collect()
    violations(a, TREE_SCHEMA, ["id"], doc_col="doc").collect()
    assert len(compiler._plan_cache) == 2  # fast + exhaustive, both kept
    hit_verdicts = _verdicts(validate(b, TREE_SCHEMA, doc_col="doc"))
    hit_rows = _rows(violations(b, TREE_SCHEMA, ["id"], doc_col="doc"))
    assert len(compiler._plan_cache) == 2  # both calls were hits

    compiler._plan_cache.clear()
    assert hit_verdicts == _verdicts(validate(b, TREE_SCHEMA, doc_col="doc"))
    assert hit_rows == _rows(violations(b, TREE_SCHEMA, ["id"], doc_col="doc"))
    assert hit_verdicts == [(10, True), (11, False), (12, False)]
    assert len(hit_rows) >= 3


def test_hit_returns_the_identical_plan(spark):
    cs = compile_schema(TREE_SCHEMA)
    first = cs.compile_variant(F.col("v"), mode="exhaustive")
    assert cs.compile_variant(F.col("v"), mode="exhaustive") is first
    assert cs.compile_variant(F.col("v"), mode="fast") is not first
    assert cs.compile_variant(F.col("v"), mode="exhaustive", short_circuit=False) is not first
    assert cs.compile_variant(F.col("w"), mode="exhaustive") is not first


def test_bound_and_unbound_columns_do_not_share_a_plan(spark):
    df = spark.createDataFrame([('{"id": 1}',)], "v string").select(
        F.try_parse_json("v").alias("v"))
    cs = compile_schema(TREE_SCHEMA)
    assert cs.compile_variant(df["v"], mode="fast") is not cs.compile_variant(
        F.col("v"), mode="fast")


def test_in_place_mutation_recompiles(spark):
    schema = {"properties": {"a": {"type": "integer"}}}
    df = spark.createDataFrame([(1, 5), (2, None)], "id long, a long")
    assert _verdicts(validate(df, schema)) == [(1, True), (2, True)]
    schema["properties"]["a"]["minimum"] = 10
    assert _verdicts(validate(df, schema)) == [(1, False), (2, True)]
    schema["required"] = ["a"]
    assert _verdicts(validate(df, schema)) == [(1, False), (2, False)]


def test_property_order_keeps_its_own_violation_order(spark):
    ab = {"properties": {"a": {"type": "string"}, "b": {"type": "string"}}}
    ba = {"properties": {"b": {"type": "string"}, "a": {"type": "string"}}}
    # a sorted-keys fingerprint cannot tell them apart; the cache key must
    assert schema_fingerprint(ab) == schema_fingerprint(ba)
    df = _docs(spark, [(1, '{"a": 1, "b": 2}')])

    def order(schema, short_circuit):
        row = annotate(df, schema, doc_col="doc", short_circuit=short_circuit).collect()[0]
        return [v["keywordLocation"] for v in row["violations"]]

    for _ in range(2):  # second round: both plans are hits
        assert order(ab, False) == [
            "/properties/a/type", "/properties/b/type", "/properties"]
        assert order(ba, False) == [
            "/properties/b/type", "/properties/a/type", "/properties"]
        assert order(ab, True)[0] == "/properties/a/type"
        assert order(ba, True)[0] == "/properties/b/type"


def test_different_row_schema_or_instance_cols_is_a_miss(spark):
    closed = {"properties": {"a": {"type": "integer"}}, "additionalProperties": False}
    only_a = spark.createDataFrame([(1,)], "a long")
    with_id = spark.createDataFrame([(1, 7)], "a long, id long")
    assert validate(only_a, closed).collect()[0]["valid"] is True
    assert validate(with_id, closed).collect()[0]["valid"] is False
    assert validate(with_id, closed, instance_cols=["a"]).collect()[0]["valid"] is True
    assert len(compiler._plan_cache) == 2  # (a) and (a, id); the subset reuses (a)
    typed = spark.createDataFrame([("1",)], "a string")
    assert validate(typed, closed).collect()[0]["valid"] is False
    assert len(compiler._plan_cache) == 3


def test_equal_dict_and_equal_compiled_schema_share_one_entry(spark):
    row = T.StructType([T.StructField("id", T.LongType())])
    schema = {"properties": {"id": {"minimum": 0}}}
    first = compile_schema(schema).compile_flat(row, mode="fast")
    again = compile_schema(copy.deepcopy(schema)).compile_flat(row, mode="fast")
    assert again is first
    df = spark.createDataFrame([(-1,), (3,)], "id long")
    assert _verdicts(validate(df, copy.deepcopy(schema))) == [(-1, False), (3, True)]
    assert _verdicts(validate(df, compile_schema(schema))) == [(-1, False), (3, True)]
    assert len(compiler._plan_cache) == 1


def test_options_are_part_of_the_key(spark):
    row = T.StructType([T.StructField("d", T.StringType())])
    schema = {"properties": {"d": {"format": "date"}}}
    df = spark.createDataFrame([("not-a-date",)], "d string")
    assert validate(df, compile_schema(schema)).collect()[0]["valid"] is False
    assert validate(df, compile_schema(schema, format_assertion=False)).collect()[0]["valid"] is True
    assert compile_schema(schema).compile_flat(row, mode="fast") is not compile_schema(
        schema, max_ref_depth=3).compile_flat(row, mode="fast")


def test_registered_keywords_are_part_of_the_key(spark):
    schema = {"properties": {"n": {"x-odd": True}}}
    df = _docs(spark, [(1, '{"n": 4}'), (2, '{"n": 5}')])
    assert _verdicts(validate(df, schema, doc_col="doc")) == [(1, True), (2, True)]
    register_keyword("x-odd", build=lambda value, ctx: ctx.num_val() % 2 == 1,
                     type_guard="number")
    try:
        assert _verdicts(validate(df, schema, doc_col="doc")) == [(1, False), (2, True)]
    finally:
        unregister_keyword("x-odd")
    assert _verdicts(validate(df, schema, doc_col="doc")) == [(1, True), (2, True)]


def test_non_json_schema_compiles_uncached(spark):
    row = T.StructType([T.StructField("a", T.LongType())])
    schema = {"properties": {"a": {"enum": [1, 2]}}, "x-note": object()}
    cs = compile_schema(schema)
    assert cs.compile_flat(row, mode="fast") is not cs.compile_flat(row, mode="fast")
    assert len(compiler._plan_cache) == 0


def test_trace_still_traces_after_a_cached_compile(spark):
    df = _docs(spark, [(1, '{"id": 0, "tags": []}')])
    validate(df, TREE_SCHEMA, doc_col="doc").collect()
    steps = trace(df, TREE_SCHEMA, ["id"], doc_col="doc").collect()
    locs = [r["keywordLocation"] for r in sorted(steps, key=lambda r: r["step"])]
    assert "/properties/id/minimum" in locs
    failed = {r["keywordLocation"] for r in steps if r["ok"] is False}
    assert "/properties/id/minimum" in failed
    assert len(compiler._plan_cache) == 1  # the trace compile is not kept


def test_lru_never_exceeds_its_bound(spark):
    row = T.StructType([T.StructField("s", T.StringType())])
    bound = compiler._PLAN_CACHE_SIZE
    plans = []
    for i in range(bound + 8):
        cs = compile_schema({"properties": {"s": {"maxLength": i}}})
        plans.append(cs.compile_flat(row, mode="fast"))
        assert len(compiler._plan_cache) <= bound
    assert len(compiler._plan_cache) == bound
    latest = compile_schema({"properties": {"s": {"maxLength": bound + 7}}})
    assert latest.compile_flat(row, mode="fast") is plans[-1]
    oldest = compile_schema({"properties": {"s": {"maxLength": 0}}})
    assert oldest.compile_flat(row, mode="fast") is not plans[0]  # evicted
    assert len(compiler._plan_cache) == bound


def test_concurrent_lookups_keep_the_lru_consistent():
    """Readers re-hit the oldest entries while writers evict them: without
    the lock a hit's move_to_end races the eviction, and the size check
    races other inserts."""
    import sys
    import threading

    bound = compiler._PLAN_CACHE_SIZE
    errors = []

    def plan_for(key):
        return compiler.Compiled(True, viols=key)  # the key marks whose plan it is

    def reader(t):
        for n in range(20000):
            key = ("r", (t + n) % bound)
            got = compiler._cached_plan(key, lambda: plan_for(key))
            if got.viols != key:
                raise AssertionError(f"{key} served {got.viols}")

    def writer(t):
        for n in range(20000):
            key = ("w", t, n)
            compiler._cached_plan(key, lambda: plan_for(key))
            if len(compiler._plan_cache) > bound:
                raise AssertionError("cache over its bound")

    def run(fn, t):
        try:
            fn(t)
        except Exception as e:  # surfaced on the main thread below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(fn, t))
                   for t in range(8) for fn in (reader, writer)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(compiler._plan_cache) == bound
