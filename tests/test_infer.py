"""JSON-Schema inference (operators/infer.py): hand-computed type
lattice, enum window guard, required-ness, the KEY_RE path-safety
filter, the infer→validate round-trip property, and a DuckDB parity
check of the lattice mapping on the same corpus."""
import duckdb
from pyspark.sql import functions as F
import pytest  # noqa: F401

from jsonschema_spark import validate
from jsonschema_spark.operators.infer import (
    census_keys,
    infer_json_schema,
    infer_json_stats,
)

CORPUS = [
    '{"i": 3, "s": "aa", "f": 1.5, "b": true, "n": null, '
    '"o": {"x": 1}, "a": [1], "mix": 1}',
    '{"i": -7, "s": "bb", "f": 2.25, "b": false, "n": "txt", '
    '"o": {}, "a": [], "mix": "one"}',
    '{"i": 40, "s": "aa", "f": -0.5, "b": true, "n": null, '
    '"o": {"y": 2}, "a": [1, 2], "mix": null}',
    '{oops',          # malformed: contributes nothing
    '[1, 2]',         # top-level array: not an object row
    '"scalar"',       # top-level string: not an object row
    None,             # NULL payload
]


def _stats(spark, rows=CORPUS, **kw):
    df = spark.createDataFrame([(r,) for r in rows], "p string")
    out = infer_json_stats(df, "p", **kw)
    return {r["json_key"]: r.asDict() for r in out.collect()}


def test_lattice_and_bounds_hand_computed(spark):
    st = _stats(spark)
    assert set(st) == {"i", "s", "f", "b", "n", "o", "a", "mix"}
    # every key present in all 3 object rows → required
    assert all(r["required"] for r in st.values())
    assert all(r["n_present"] == 3 for r in st.values())

    assert st["i"]["types_csv"] == "integer"
    assert (st["i"]["int_lo"], st["i"]["int_hi"]) == (-7, 40)
    assert (st["i"]["num_lo_milli"], st["i"]["num_hi_milli"]) == (-7000, 40000)

    assert st["s"]["types_csv"] == "string"
    assert st["s"]["str_maxlen"] == 2
    assert st["s"]["n_distinct_str"] == 2
    assert st["s"]["enum_csv"] == "aa|bb"

    assert st["f"]["types_csv"] == "number"
    assert st["f"]["int_lo"] is None  # never integer-typed
    assert (st["f"]["num_lo_milli"], st["f"]["num_hi_milli"]) == (-500, 2250)

    assert st["b"]["types_csv"] == "boolean"
    # json null is a PRESENT key of lattice type 'null'
    assert st["n"]["types_csv"] == "null,string"
    assert st["n"]["n_null"] == 2
    assert st["n"]["n_distinct_str"] == 1 and st["n"]["enum_csv"] == "txt"

    assert st["o"]["types_csv"] == "object"
    assert st["a"]["types_csv"] == "array"
    assert st["mix"]["types_csv"] == "integer,null,string"


def test_duckdb_lattice_parity(spark):
    """The DuckDB json_type spelling of the same corpus maps onto the
    identical lattice — the two engines' independent typings agree per
    (key, types_csv) pair."""
    st = _stats(spark)
    con = duckdb.connect()
    rows = con.execute(
        """
        WITH src AS (SELECT try_cast(p AS JSON) AS j
                     FROM (SELECT unnest(?) AS p)),
        obj AS (SELECT j FROM src
                WHERE j IS NOT NULL AND json_type(j) = 'OBJECT'),
        pairs AS (SELECT k AS json_key,
                         coalesce(json_type(o.j, '$."' || k || '"'),
                                  'NULL') AS dt
                  FROM obj o, LATERAL (SELECT unnest(json_keys(o.j)) AS k))
        SELECT json_key, array_to_string(list_sort(list(DISTINCT
          CASE dt WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
                  WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
                  WHEN 'DOUBLE' THEN 'number' WHEN 'NULL' THEN 'null'
                  WHEN 'UBIGINT' THEN 'integer' WHEN 'BIGINT' THEN 'integer'
                  WHEN 'HUGEINT' THEN 'integer' ELSE 'other' END)), ',')
        FROM pairs GROUP BY 1
        """,
        [[c for c in CORPUS if c is not None]],
    ).fetchall()
    duck = dict(rows)
    assert duck == {k: v["types_csv"] for k, v in st.items()}


def test_required_and_presence(spark):
    rows = ['{"always": 1, "some": "x"}', '{"always": 2}', "null"]
    st = _stats(spark, rows)
    assert st["always"]["required"] is True
    assert st["some"]["required"] is False
    assert st["some"]["n_present"] == 1


def test_enum_window_guard(spark):
    """A key past max_enum distinct values reports the exact distinct
    count but NULL enum — and the plan never collects more than
    max_enum+1 values per key (partitioned-window cap)."""
    rows = ['{"hi": "v%02d", "lo": "w%d"}' % (i, i % 3) for i in range(40)]
    st = _stats(spark, rows, max_enum=16)
    assert st["hi"]["n_distinct_str"] == 40 and st["hi"]["enum_csv"] is None
    assert st["lo"]["n_distinct_str"] == 3
    assert st["lo"]["enum_csv"] == "w0|w1|w2"


def test_key_re_skip_and_census(spark):
    rows = ['{"ok": 1, "weird.key": 2, "qu\'ote": 3}'] * 2
    df = spark.createDataFrame([(r,) for r in rows], "p string")
    typed, skipped, n_objects = census_keys(df, "p")
    assert typed == ["ok"]
    assert sorted(skipped) == ["qu'ote", "weird.key"]
    assert n_objects == 2
    st = _stats(spark, rows)
    assert set(st) == {"ok"}  # census sees the weird keys, stats skip them


def test_max_keys_cap_rank(spark):
    """Cap ranks by (presence desc, key asc) BEFORE the KEY_RE filter —
    the mirror replays the same two steps in the same order."""
    rows = ['{"a": 1, "b": 2}', '{"a": 3}']
    df = spark.createDataFrame([(r,) for r in rows], "p string")
    typed, _, _ = census_keys(df, "p", max_keys=1)
    assert typed == ["a"]


def test_empty_and_no_objects(spark):
    st = _stats(spark, ["[1]", "{oops", None])
    assert st == {}


def test_infer_validate_round_trip(spark):
    """The assembled draft 2020-12 schema accepts every object row that
    produced it — required keys, types, bounds and enums all observed."""
    df = spark.createDataFrame([(r,) for r in CORPUS], "p string")
    schema = infer_json_schema(df, "p")
    assert schema["type"] == "object"
    assert sorted(schema["required"]) == ["a", "b", "f", "i", "mix", "n", "o", "s"]
    assert schema["properties"]["i"] == {
        "type": "integer", "minimum": -7, "maximum": 40}
    assert schema["properties"]["s"] == {
        "type": "string", "maxLength": 2, "enum": ["aa", "bb"]}
    assert sorted(schema["properties"]["mix"]["type"]) == [
        "integer", "null", "string"]
    objs = df.where(
        "p is not null and p not like '{oops%' and p like '{%'")
    v = validate(objs, schema, doc_col="p")
    got = v.groupBy("valid").count().collect()
    assert {r["valid"]: r["count"] for r in got} == {True: 3}
    # and a type-mutated doc fails
    bad = spark.createDataFrame(
        [('{"i": "not an int", "s": "aa", "f": 1.5, "b": true, "n": null, '
          '"o": {}, "a": [], "mix": 1}',)], "p string")
    assert validate(bad, schema, doc_col="p").collect()[0]["valid"] is False


def _contributing_valid(spark, payloads):
    """Infer a schema from ``payloads`` and validate the object rows that
    produced it: every one must pass."""
    df = spark.createDataFrame([(p,) for p in payloads], "p string")
    schema = infer_json_schema(df, "p")
    objs = df.where(F.json_object_keys("p").isNotNull())
    got = {r["valid"] for r in validate(objs, schema, doc_col="p").collect()}
    return schema, got


def test_enum_value_with_separator_drops_the_enum(spark):
    rows = ['{"s": "a|b"}', '{"s": "c"}', '{"t": "x"}', '{"t": "y"}']
    st = _stats(spark, rows)
    assert st["s"]["n_distinct_str"] == 2 and st["s"]["enum_csv"] is None
    assert st["t"]["enum_csv"] == "x|y"
    schema, got = _contributing_valid(spark, rows)
    assert "enum" not in schema["properties"]["s"]
    assert schema["properties"]["t"]["enum"] == ["x", "y"]
    assert got == {True}


def test_integer_beyond_int64_drops_the_bounds(spark):
    big = 2 ** 64 + 5  # DECIMAL(20,0) in the VARIANT: no bigint reading
    rows = ['{"i": 3, "j": 1}', '{"i": %d, "j": 9}' % big]
    st = _stats(spark, rows)
    assert st["i"]["types_csv"] == "integer"
    assert (st["i"]["int_lo"], st["i"]["int_hi"]) == (None, None)
    assert (st["j"]["int_lo"], st["j"]["int_hi"]) == (1, 9)
    schema, got = _contributing_valid(spark, rows)
    assert schema["properties"]["i"] == {"type": "integer"}
    assert schema["properties"]["j"] == {"type": "integer", "minimum": 1, "maximum": 9}
    assert got == {True}


def test_infer_validate_round_trip_hypothesis(spark):
    """Round trip over arbitrary string and integer values: the inferred
    schema accepts every object row it was inferred from."""
    import json

    from hypothesis import given, settings, strategies as st

    docs = st.lists(
        st.fixed_dictionaries(
            {"s": st.text(max_size=8), "i": st.integers(-(2 ** 70), 2 ** 70)},
            optional={"o": st.sampled_from(["a|b", "|", "", "a", "b|"])}),
        min_size=1, max_size=6)

    @settings(max_examples=15, deadline=None)
    @given(docs, st.booleans())
    def check(ds, ascii_only):
        payloads = [json.dumps(d, ensure_ascii=ascii_only) for d in ds]
        _, got = _contributing_valid(spark, payloads)
        assert got == {True}, payloads

    check()


def test_duckdb_mirror_separator_and_overflow_parity(spark):
    """The oracle's DuckDB mirror applies the same two guards: no enum for
    a key with a '|' value, no integer bounds past int64. (2^63, 2^64) is
    integer-typed in both engines; DuckDB reads larger tokens as DOUBLE."""
    import __spark_entry__ as entry

    rows = ['{"s": "a|b", "t": "x", "i": 3, "j": 2}',
            '{"s": "c", "t": "y", "i": %d, "j": -4}' % (2 ** 63 + 5),
            '{"s": "c", "t": "x", "i": 7, "j": 0}']
    sql = entry._INFER_PROPS_SQL.replace(entry._INFER_PAYLOAD_SQL, "SELECT unnest(?) AS p")
    assert sql != entry._INFER_PROPS_SQL
    con = duckdb.connect()
    cur = con.execute(sql, [rows])
    cols = [d[0] for d in cur.description]
    duck = {r[0]: dict(zip(cols, r)) for r in cur.fetchall()}
    st = _stats(spark, rows)
    assert duck == st
    assert st["s"]["enum_csv"] is None and st["t"]["enum_csv"] == "x|y"
    assert (st["i"]["int_lo"], st["i"]["int_hi"]) == (None, None)
    assert (st["j"]["int_lo"], st["j"]["int_hi"]) == (-4, 2)
