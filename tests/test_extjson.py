"""Unit tests for the canonical Extended JSON v2 encoder — the one
custom serializer in the CDC path (reference: main.go:117,138 uses
bson.MarshalExtJSON(canonical=true); our rules mirror bson.json_util).
The relay runs the Java UDF; `extjson.event_key_value` is its reference,
and the differential tests below hold the two byte-equal."""

import json
import math

import pytest
from pyspark.sql import functions as F

from mongo_cdc_spark.cdc.extjson import (
    _canonicalize,
    event_key_value,
    to_canonical_ext_json,
)
from mongo_cdc_spark.session import ext_json_function


def _reference(json_text: str) -> str:
    """The encoding rules as a second, independent walk: decode with the
    stock json.loads, canonicalize the tree, encode."""
    return json.dumps(_canonicalize(json.loads(json_text)),
                      separators=(",", ":"), ensure_ascii=True)


def test_int32_wraps_number_int():
    assert _canonicalize(3) == {"$numberInt": "3"}
    assert _canonicalize(-(2 ** 31)) == {"$numberInt": str(-(2 ** 31))}
    assert _canonicalize(2 ** 31 - 1) == {"$numberInt": str(2 ** 31 - 1)}


def test_int64_wraps_number_long():
    assert _canonicalize(2 ** 31) == {"$numberLong": str(2 ** 31)}
    assert _canonicalize(-(2 ** 40)) == {"$numberLong": str(-(2 ** 40))}


def test_double_wraps_number_double():
    assert _canonicalize(1.5) == {"$numberDouble": "1.5"}
    assert _canonicalize(2.0) == {"$numberDouble": "2.0"}
    assert _canonicalize(float("nan")) == {"$numberDouble": "NaN"}
    assert _canonicalize(float("inf")) == {"$numberDouble": "Infinity"}
    assert _canonicalize(float("-inf")) == {"$numberDouble": "-Infinity"}


def test_bool_not_treated_as_int():
    assert _canonicalize(True) is True
    assert _canonicalize(False) is False


def test_containers_recurse_and_preserve_key_order():
    out = to_canonical_ext_json('{"b": 1, "a": [2.5, {"c": true}]}')
    assert out == '{"b":{"$numberInt":"1"},"a":[{"$numberDouble":"2.5"},{"c":true}]}'
    # key order must be preserved (canonical ext json is order-sensitive)
    assert list(json.loads(out)) == ["b", "a"]


def test_corrupt_input_skips_not_raises():
    # mirrors main.go:119-121/140-142: log + skip, never die
    assert to_canonical_ext_json("{not json") is None
    assert to_canonical_ext_json(None) is None


def test_nested_json_field_inlined():
    out = to_canonical_ext_json(
        '{"op": "insert", "fullDocument": "{\\"qty\\": 7}"}',
        nested_json_fields=("fullDocument",),
    )
    assert out == '{"op":"insert","fullDocument":{"qty":{"$numberInt":"7"}}}'


def test_nested_field_left_alone_when_not_json():
    out = to_canonical_ext_json(
        '{"fullDocument": "plain text"}', nested_json_fields=("fullDocument",))
    assert out == '{"fullDocument":"plain text"}'


def test_non_ascii_escaped():
    # escapeHTML=true in the reference ≈ ensure_ascii here
    assert to_canonical_ext_json('{"s": "héllo"}') == '{"s":"h\\u00e9llo"}'


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _json_values = st.recursive(
        st.none() | st.booleans()
        | st.integers(min_value=-(2 ** 62), max_value=2 ** 62)
        | st.floats(allow_nan=False, allow_infinity=False, width=64)
        | st.text(max_size=20),
        lambda children: st.lists(children, max_size=4)
        | st.dictionaries(st.text(max_size=8), children, max_size=4),
        max_leaves=12,
    )

    def _unwrap(v):
        """Invert canonicalization: $number* wrappers → python values."""
        if isinstance(v, dict):
            if set(v) == {"$numberInt"} or set(v) == {"$numberLong"}:
                return int(next(iter(v.values())))
            if set(v) == {"$numberDouble"}:
                return float(next(iter(v.values())))
            return {k: _unwrap(x) for k, x in v.items()}
        if isinstance(v, list):
            return [_unwrap(x) for x in v]
        return v

    @settings(max_examples=200, deadline=None)
    @given(_json_values)
    def test_property_canonical_round_trip(value):
        """For any JSON value: encode → canonical ext json → unwrap ==
        original (numbers preserved exactly, structure untouched)."""
        out = to_canonical_ext_json(json.dumps(value))
        assert _unwrap(json.loads(out)) == value

    # Number literals at every boundary the encoder distinguishes.
    _EDGE_NUMBERS = (
        "0", "-0", "2147483647", "2147483648", "-2147483648", "-2147483649",
        "9223372036854775807", "9223372036854775808",
        "-9223372036854775809", "123456789012345678901234567890",
        "-0.0", "0.0", "9007199254740991.0", "9007199254740992.0",
        "9007199254740993.0", "-9007199254740992.0", "1e15", "1E22",
        "2.5e-3", "1e-7", "1e308", "1e400", "-1e400", "NaN", "Infinity",
        "-Infinity",
    )
    _number_literals = (
        st.sampled_from(_EDGE_NUMBERS)
        | st.integers().map(str)
        | st.floats(allow_nan=False, allow_infinity=False).map(repr)
        | st.builds(lambda m, e: f"{m}e{e}",
                    st.integers(-10 ** 6, 10 ** 6), st.integers(-400, 400))
    )
    # non-ASCII and astral (non-BMP) characters, escaped or raw
    _strings = st.text(
        alphabet=st.characters(min_codepoint=0x20) | st.sampled_from(
            "\u00e9\u4e2d\U0001F600\U00010348\"\\\n"),
        max_size=12)
    _string_literals = st.builds(
        lambda s, ascii_only: json.dumps(s, ensure_ascii=ascii_only),
        _strings, st.booleans())
    _json_texts = st.recursive(
        _number_literals | _string_literals
        | st.sampled_from(("true", "false", "null")),
        lambda children: st.lists(children, max_size=4).map(
            lambda xs: "[" + ", ".join(xs) + "]")
        | st.lists(st.tuples(_string_literals, children), max_size=4).map(
            lambda kvs: "{" + ",".join(f"{k}: {v}" for k, v in kvs) + "}"),
        max_leaves=12,
    )

    @settings(max_examples=300, deadline=None)
    @given(_json_texts)
    def test_property_decoder_matches_reference(text):
        """The hook decoder canonicalizes while it parses; the bytes must
        equal a plain json.loads followed by the _canonicalize walk."""
        assert to_canonical_ext_json(text) == _reference(text)

    @settings(max_examples=300, deadline=None)
    @given(key=_json_texts, doc=_json_texts | _strings, deleted=st.booleans())
    def test_property_event_key_value_matches_reference(key, doc, deleted):
        """The relay UDF's (payload, value) for a whole event equals the
        reference encoding of documentKey (no payload for a null key) and
        of the event with fullDocument inlined; fullDocument strings that
        are not JSON, or are JSON scalars, go through the same rules."""
        ev = {"operationType": "update", "documentKey": json.loads(key)}
        if not deleted:
            ev["fullDocument"] = doc
        text = json.dumps(ev)
        expected = json.loads(text)
        if not deleted:
            try:
                expected["fullDocument"] = json.loads(doc)
            except ValueError:
                pass
        payload = None if expected["documentKey"] is None else _reference(key)
        assert event_key_value(text) == (
            payload, _reference(json.dumps(expected)))

    def _event_text(key: str, doc: str, deleted: bool) -> str:
        ev = {"operationType": "update", "documentKey": json.loads(key)}
        if not deleted:
            ev["fullDocument"] = doc
        return json.dumps(ev)

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.tuples(_json_texts, _json_texts | _strings,
                              st.booleans()), min_size=1, max_size=40))
    def test_property_jvm_udf_matches_event_key_value(spark, events):
        """The Java UDF the relay runs gives the same (payload, value)
        bytes as the Python reference, for every generated event."""
        texts = [_event_text(*e) for e in events]
        assert _jvm_key_value(spark, texts) == [
            event_key_value(t) for t in texts]
except ImportError:  # pragma: no cover - hypothesis is in this image
    pass


def _jvm_key_value(spark, texts: list[str]) -> list[tuple]:
    """(payload, value) of each event text from the Java UDF, run on a
    small DataFrame."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    kv = F.call_function(ext_json_function(spark), F.col("t"))
    rows = df.select("i", kv.getField("payload").alias("p"),
                     kv.getField("value").alias("v")).collect()
    return [(r.p, r.v) for r in sorted(rows, key=lambda r: r.i)]


def _full(doc_text: str) -> str:
    """An event whose fullDocument is `doc_text`, as the envelope keeps
    it: a JSON string."""
    return json.dumps({"documentKey": {"_id": "k"}, "fullDocument": doc_text})


_EDGE_EVENTS = {
    "int32_edges": _full('{"a":2147483647,"b":2147483648,"c":-2147483648,'
                         '"d":-2147483649,"z":-0,"y":0}'),
    "int64_edges": _full('[9223372036854775807,9223372036854775808,'
                         '-9223372036854775808,-9223372036854775809]'),
    "uint64_edges": _full('[18446744073709551615,18446744073709551616,'
                          '-18446744073709551616]'),
    "doubles": _full('[-0, -0.0, 0.0, 1e400, -1e400, 5e-324, 1e16, 1e22,'
                     ' 1e23, 2.82879384806159e17, 9007199254740992.0,'
                     ' 9007199254740993.0, 1.7976931348623157e308,'
                     ' 2.2250738585072014e-308, 0.1, 1e-5, 0.0001, 1.5e-4,'
                     ' 123456789.125, 1E+2, 2.5e-3]'),
    "constants": _full('{"n":NaN,"p":Infinity,"m":-Infinity}'),
    "plus_infinity_is_not_json": _full('{"p":+Infinity}'),
    "inf_is_not_json": _full('[-INF]'),
    "non_ascii": _full(r'{"s":"h\u00e9llo \u4e2d","t":"'
                       + "h\u00e9llo \u4e2d" + '"}'),
    "astral": _full(r'{"s":"\ud83d\ude00","t":"'
                    + "\U0001F600\U00010348" + '"}'),
    "lone_surrogate": _full(r'{"s":"\ud800x","t":"\udfff"}'),
    "del_and_control": _full(r'{"s":"\u007f' + "\x7f"
                             + r'\u0001\u001f\b\f\n\r\t\"\\\/"}'),
    "duplicate_keys": _full('{"a":1,"b":{"c":1,"c":2.5},"a":"last"}'),
    "duplicate_top_level_key":
        r'{"fullDocument":"x","documentKey":{"_id":1,"_id":2},'
        r'"fullDocument":"{\"a\":1}"}',
    "not_json": _full("plain text"),
    "truncated_json": _full('{"a": 1'),
    "trailing_data": _full("[1] 2"),
    "empty_string": _full(""),
    "scalar_number": _full("5"),
    "scalar_string": _full('"abc"'),
    "scalar_null": _full("null"),
    "scalar_true": _full(" true "),
    "object_not_string": '{"documentKey":{"_id":"k"},"fullDocument":{"x":1.5}}',
    "no_document_key": '{"operationType":"insert","fullDocument":"{}"}',
    "null_document_key": '{"documentKey":null,"operationType":"delete"}',
    "empty_containers": _full('{"a":{},"b":[],"c":[[],{}]}'),
}


@pytest.mark.parametrize("name", sorted(_EDGE_EVENTS))
def test_jvm_udf_matches_event_key_value_on_edges(spark, name):
    text = _EDGE_EVENTS[name]
    assert _jvm_key_value(spark, [text]) == [event_key_value(text)]


def test_event_key_value_without_document_key():
    assert event_key_value('{"operationType":"insert"}') == (
        None, '{"operationType":"insert"}')
    assert event_key_value(None) == (None, None)


def test_round_trip_values_preserved():
    src = {"i": 42, "l": 2 ** 40, "d": 0.1, "s": "x", "n": None,
           "arr": [1, 2.0], "sub": {"k": -7}}
    out = json.loads(to_canonical_ext_json(json.dumps(src)))
    assert out["i"] == {"$numberInt": "42"}
    assert out["l"] == {"$numberLong": str(2 ** 40)}
    assert float(out["d"]["$numberDouble"]) == 0.1
    assert out["s"] == "x" and out["n"] is None
    assert out["sub"]["k"] == {"$numberInt": "-7"}
    assert math.isclose(float(out["arr"][1]["$numberDouble"]), 2.0)
