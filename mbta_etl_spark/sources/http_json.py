"""S1 — HTTP JSON source (reference pipeline/extract.go:11-33).

The reference does a synchronous ``http.Get`` + ``json.Unmarshal`` of the
whole JSON:API envelope into declared structs. This module is the one
place that decode lives: :func:`decode_rows` parses the envelope and
projects every ``data`` item through a declared schema, json.Unmarshal
style (unknown fields dropped, missing fields null, JSON numbers coerced
to the declared width). ``etl.run`` uses it through
:func:`ingest_payload`; the ``http_json`` Spark source
(``sources/http_datasource.py``) uses it inside its scan.

Error semantics preserved: non-200 responses, malformed JSON and values
the declared type cannot hold abort the run (tested in reference
main_test.go:72-108) — we raise, nothing is silently skipped.

At scale the same ``payload → rows`` decode holds: a backfill over an
archive of snapshots, or a live poll, goes through the ``http_json``
source (``option("urls", ...)`` / ``option("url", ...)``), which runs
this decode on executors; the downstream transform is identical.
"""

from __future__ import annotations

import json
from typing import Any
from urllib.request import urlopen

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
)

from mbta_etl_spark.pipeline.schema import RAW_VEHICLE_SCHEMA

# integer width -> exclusive upper bound (lower bound is its negation)
_INT_LIMITS = {
    ByteType: 1 << 7, ShortType: 1 << 15, IntegerType: 1 << 31, LongType: 1 << 63
}


class ExtractError(RuntimeError):
    """Raised on HTTP or JSON-decode failure (abort-the-run semantics,
    reference pipeline/extract.go:18-20,27-30)."""


def fetch_json(url: str, timeout: float = 30.0) -> str:
    """Driver-side HTTP GET. Fails on non-2xx like the reference
    (extract.go:18-20)."""
    try:
        with urlopen(url, timeout=timeout) as resp:
            # file:// responses carry status None — only HTTP(S) has a
            # status code to enforce (extract.go:18-20 semantics)
            status = getattr(resp, "status", None)
            if status is not None and (status < 200 or status >= 300):
                raise ExtractError(f"API returned status {status}")
            return resp.read().decode("utf-8")
    except ExtractError:
        raise
    except Exception as e:
        raise ExtractError(f"failed to fetch {url}: {e}") from e


def parse_payload(body: str) -> list[Any]:
    """Decode the JSON:API envelope; malformed JSON or a missing/invalid
    ``data`` array aborts (reference main_test.go:91-108)."""
    try:
        doc = json.loads(body)
    except json.JSONDecodeError as e:
        raise ExtractError(f"failed to parse JSON: {e}") from e
    data = doc.get("data") if isinstance(doc, dict) else None
    if not isinstance(data, list):
        raise ExtractError("JSON envelope missing 'data' array")
    return data


def _conflict(path: str, msg: str) -> ValueError:
    return ValueError(f"{path}: {msg}" if path else msg)


def _project(value: Any, dtype: DataType, path: str = "") -> Any:
    """JSON value -> schema-shaped Python value, json.Unmarshal-style
    (reference pipeline/extract.go:28 via model/model.go:8-30): absent
    or null stays None, unknown object keys are dropped, numeric JSON
    values coerce to the declared width, and type conflicts raise a
    ValueError naming the field path (the abort-the-run contract of
    main_test.go:91-108)."""
    if value is None:
        return None
    if isinstance(dtype, StructType):
        if not isinstance(value, dict):
            raise _conflict(path, f"expected JSON object for {dtype.simpleString()}")
        prefix = f"{path}." if path else ""
        return tuple(
            _project(value.get(f.name), f.dataType, prefix + f.name)
            for f in dtype.fields
        )
    if isinstance(dtype, StringType):
        if not isinstance(value, str):
            raise _conflict(path, f"expected JSON string, got {type(value).__name__}")
        return value
    hi = _INT_LIMITS.get(type(dtype))
    if hi is not None:
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise _conflict(path, f"expected JSON number, got {type(value).__name__}")
        if isinstance(value, float) and not value.is_integer():
            raise _conflict(path, f"non-integral {value!r} for {dtype.simpleString()}")
        out = int(value)
        # Go's json.Unmarshal errors on numeric overflow of the target
        # width — enforce the declared range here, a clean abort instead
        # of an opaque Arrow/Pickle conversion error in the executor
        if not (-hi <= out < hi):
            raise _conflict(path, f"{value!r} overflows {dtype.simpleString()}")
        return out
    if isinstance(dtype, (FloatType, DoubleType)):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise _conflict(path, f"expected JSON number, got {type(value).__name__}")
        return float(value)
    if isinstance(dtype, BooleanType):
        if not isinstance(value, bool):
            raise _conflict(path, f"expected JSON bool, got {type(value).__name__}")
        return value
    if isinstance(dtype, ArrayType):
        if not isinstance(value, list):
            raise _conflict(path, f"expected JSON array for {dtype.simpleString()}")
        return [_project(v, dtype.elementType, f"{path}[]") for v in value]
    if isinstance(dtype, MapType):
        if not isinstance(dtype.keyType, StringType):
            # JSON object keys are always strings; a non-string keyType
            # can never be satisfied — abort loudly instead of handing
            # str-keyed dicts to the engine conversion boundary
            raise _conflict(
                path,
                f"http_json map keys are JSON strings; schema declares "
                f"{dtype.simpleString()}",
            )
        if not isinstance(value, dict):
            raise _conflict(path, f"expected JSON object for {dtype.simpleString()}")
        return {
            k: _project(v, dtype.valueType, f"{path}.{k}") for k, v in value.items()
        }
    raise _conflict(
        path, f"unsupported type in http_json schema: {dtype.simpleString()}"
    )


def decode_rows(body: str, schema: StructType) -> list[tuple]:
    """JSON:API body -> one schema-shaped tuple per ``data`` item.

    A JSON null element inside data[] decodes to an all-null row — Go's
    json.Unmarshal parity (null -> zero-value struct, no error; reference
    pipeline/extract.go:28) — which the transform's validity rule drops.
    A value the declared type cannot hold raises ExtractError naming the
    field path."""
    null_row = (None,) * len(schema.fields)
    try:
        return [
            null_row if item is None else _project(item, schema)
            for item in parse_payload(body)
        ]
    except ValueError as e:
        raise ExtractError(f"failed to decode JSON: {e}") from e


def ingest_payload(spark: SparkSession, body: str) -> DataFrame:
    """Raw JSON body → DataFrame with the declared nested schema.

    The payload is driver-resident by construction (one API snapshot,
    ~hundreds of rows — reference README reports 373-522 vehicles), so
    ``createDataFrame`` is appropriate here. The decode has already held
    every value to its declared type and width, so Spark's per-row schema
    check would only repeat it.
    """
    return spark.createDataFrame(
        decode_rows(body, RAW_VEHICLE_SCHEMA), RAW_VEHICLE_SCHEMA, verifySchema=False
    )
