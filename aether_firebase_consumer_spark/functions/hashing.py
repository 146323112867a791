"""Content hashing (reference O9).

The reference's change-detection hash is
``md5(json.dumps(msg, sort_keys=True).encode('utf-8')).hexdigest()[:16]``
(``firebase/app/utils.py:29-33`` — "64bit hash" = first 16 hex chars),
used both for document change detection (``firebase/app/helpers.py:51-67``)
and config-diffing (``firebase/app/artifacts.py:288,296``).

Two implementations:

- :func:`canonical_json_hash` — exact byte parity with the reference's
  ``json.dumps(sort_keys=True)`` via an Arrow-batched pandas UDF. Use
  when hashes must interoperate with a store written by the reference.
- :func:`content_hash_expr` — the *scale* path: a pure-JVM expression
  (``substring(md5(to_json(sorted_struct)), 1, 16)``) with struct fields
  sorted recursively at plan-build time. Same collision/change-detection
  properties, whole-stage-codegen'd, zero Python in the hot path; not
  byte-identical to CPython's dumps (separator whitespace differs).

Also exposes the driver-side :func:`py_hash` (identical to
``utils.hash``) for control-plane config diffing.
"""

from __future__ import annotations

import hashlib
import json
from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HASH_LEN = 16  # first 16 hex chars of md5 ("64bit", firebase/app/utils.py:32)


def py_hash(obj) -> str:
    """Driver-side exact reimplementation of ``utils.hash``
    (``firebase/app/utils.py:29-33``)."""
    sorted_json = json.dumps(obj, sort_keys=True).encode("utf-8")
    return str(hashlib.md5(sorted_json).hexdigest())[:HASH_LEN]


@F.pandas_udf(T.StringType())
def _canonical_json_hash_udf(json_str: pd.Series) -> pd.Series:
    """Arrow-batched: parse JSON, re-dump with sorted keys, md5[:16].

    Round-tripping through ``json.loads``/``dumps`` reproduces CPython's
    canonical form (sorted keys, ``', '``/``': '`` separators) exactly,
    which is what the reference hashes.
    """
    def one(s):
        if s is None:
            return None
        return py_hash(json.loads(s))

    return json_str.map(one)


def canonical_json_hash(doc: Column) -> Column:
    """Exact-parity hash of a struct/map column (reference O9).

    The struct is serialized JVM-side with ``to_json`` (cheap, columnar),
    then canonicalized + hashed in an Arrow batch. Python cost is one
    loads/dumps per row but fully pipelined; use :func:`content_hash_expr`
    when reference byte-parity is not required.
    """
    return _canonical_json_hash_udf(F.to_json(doc))


def canonical_json_hash_str(json_str: Column) -> Column:
    """Exact-parity hash of an already-serialized JSON string column
    (the untyped-payload flavor — e.g. the reference hashing a raw
    message body). Same canonicalization as :func:`canonical_json_hash`
    without the to_json step."""
    return _canonical_json_hash_udf(json_str)


def _sorted_struct(df: DataFrame, cols: Iterable[str] | None = None) -> Column:
    """Struct of the given columns with names recursively sorted, so
    ``to_json`` emits keys in the same order as ``sort_keys=True``."""
    names = sorted(cols if cols is not None else df.columns)

    def sort_field(col: Column, dtype: T.DataType) -> Column:
        if isinstance(dtype, T.StructType):
            return F.struct(*[
                sort_field(col.getField(f.name), f.dataType).alias(f.name)
                for f in sorted(dtype.fields, key=lambda f: f.name)
            ])
        return col

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    return F.struct(*[sort_field(F.col(n), dtypes[n]).alias(n) for n in names])


def content_hash_expr(df: DataFrame, cols: Iterable[str] | None = None) -> Column:
    """Scale-path content hash: md5(to_json(key-sorted struct))[:16].

    Pure JVM expression → whole-stage codegen, no Python. Key order is
    canonicalized at plan-build time (schema is fixed), so the hash is
    deterministic for a given engine version.
    """
    return F.substring(F.md5(F.to_json(_sorted_struct(df, cols))), 1, HASH_LEN)
