"""Canonical MongoDB Extended JSON v2 serialization.

The reference's one typed commitment is lossless BSON→JSON encoding via
bson.MarshalExtJSON(canonical=true) (/root/reference/main.go:117,138):
ints become {"$numberInt"/"$numberLong": "..."}, doubles
{"$numberDouble": "..."}, preserving type fidelity through JSON.

The `bson` Python package is not available in this environment, so this
is a small pure-Python implementation covering the JSON-representable
subset our sources produce (our change events arrive as JSON text, so
ObjectId/Decimal128/Binary wire types are out of scope; they would slot
into `_canonicalize` if a true BSON source were wired in). Exposed as one
Arrow UDF that encodes an event's key payload and value from one decode —
the one custom function the core pipeline needs (SURVEY.md §1.5).
"""

from __future__ import annotations

import json
import math
from typing import Any

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INT32_MIN, _INT32_MAX = -(2 ** 31), 2 ** 31 - 1


def _canonicalize(value: Any) -> Any:
    """Map a parsed-JSON value to its canonical Extended JSON v2 form.

    Mirrors bson.json_util canonical rules for the JSON-native types:
    int → $numberInt (int32 range) else $numberLong; float → $numberDouble
    (with Infinity/NaN spellings); containers recurse; key order preserved.
    """
    if isinstance(value, bool):        # bool before int: bool is an int subclass
        return value
    if isinstance(value, int):
        if _INT32_MIN <= value <= _INT32_MAX:
            return {"$numberInt": str(value)}
        return {"$numberLong": str(value)}
    if isinstance(value, float):
        if math.isnan(value):
            return {"$numberDouble": "NaN"}
        if math.isinf(value):
            return {"$numberDouble": "Infinity" if value > 0 else "-Infinity"}
        if value == int(value) and abs(value) < 2 ** 53:
            return {"$numberDouble": f"{value:.1f}"}
        return {"$numberDouble": repr(value)}
    if isinstance(value, dict):
        return {k: _canonicalize(v) for k, v in value.items()}
    if isinstance(value, list):
        return [_canonicalize(v) for v in value]
    return value


# json.loads that canonicalizes each number (and NaN/±Infinity) as parsed
_DECODER = json.JSONDecoder(parse_int=lambda t: _canonicalize(int(t)),
                            parse_float=lambda t: _canonicalize(float(t)),
                            parse_constant=lambda t: _canonicalize(float(t)))


def _decode(json_text: str, nested_json_fields: tuple[str, ...]) -> Any:
    parsed = _DECODER.decode(json_text)
    if isinstance(parsed, dict):
        for fname in nested_json_fields:
            inner = parsed.get(fname)
            if isinstance(inner, str):
                try:
                    parsed[fname] = _DECODER.decode(inner)
                except ValueError:
                    pass  # leave as string if not valid JSON
    return parsed


# escapeHTML=true in the reference (main.go:117,138) ≈ ensure_ascii here:
# non-ASCII is escaped either way; separators match Go's json.Marshal.
_encode = json.JSONEncoder(separators=(",", ":"), ensure_ascii=True).encode


def to_canonical_ext_json(json_text: str | None,
                          nested_json_fields: tuple[str, ...] = ()) -> str | None:
    """JSON text → canonical Extended JSON v2 text (driver-side helper).

    nested_json_fields: top-level fields that arrive as JSON *strings*
    (the envelope keeps fullDocument as a lossless string column) but are
    semantically subdocuments — they are parsed and canonicalized inline,
    matching the reference's treatment of fullDocument as part of the
    BSON event (main.go:138).
    """
    if json_text is None:
        return None
    try:
        return _encode(_decode(json_text, nested_json_fields))
    except (ValueError, TypeError):
        return None  # skip-on-error, like main.go:119-121/140-142


def event_key_value(json_text: str | None) -> tuple[str | None, str | None]:
    """`to_json` text of a whole change event → (Ext JSON of its
    documentKey, Ext JSON of the event with fullDocument inlined as a
    subdocument), from one decode of the event."""
    if json_text is None:
        return None, None
    ev = _decode(json_text, ("fullDocument",))
    key = ev.get("documentKey")
    return None if key is None else _encode(key), _encode(ev)


@F.arrow_udf(T.StructType([T.StructField("payload", T.StringType()),
                           T.StructField("value", T.StringType())]))
def event_ext_json_udf(events: pa.Array) -> pa.Array:
    """Arrow-batched event_key_value: the key payload and the value of
    each event, as struct<payload, value>."""
    pairs = [event_key_value(t) for t in events.to_pylist()]
    return pa.StructArray.from_arrays(
        [pa.array([p for p, _ in pairs], pa.string()),
         pa.array([v for _, v in pairs], pa.string())],
        names=["payload", "value"])
