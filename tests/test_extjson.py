"""Unit tests for the canonical Extended JSON v2 encoder — the one
custom serializer in the CDC path (reference: main.go:117,138 uses
bson.MarshalExtJSON(canonical=true); our rules mirror bson.json_util)."""

import json
import math

from mongo_cdc_spark.cdc.extjson import (
    _canonicalize,
    event_key_value,
    to_canonical_ext_json,
)


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
except ImportError:  # pragma: no cover - hypothesis is in this image
    pass


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
