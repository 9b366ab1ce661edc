"""Pluggable per-message transformer surface (reference U1/U2).

The reference's plug-in protocol (transformer.py:2-8, loader
kafka_client.py:199-205) is a ``module:Class`` whose instance exposes
``transform(msg) -> Iterator[rows]`` (0..n output rows — flat-map
semantics, applied at kafka_client.py:395-398) and ``get_id() -> str``
(the idempotency cache key stored in the dump state).

This engine keeps the same plug-in API and runs it in one of two
ways:

- a plug-in that defines ``transform_frame(records) -> DataFrame`` is
  applied to the whole ``(key, value)`` frame on the driver, so its
  work stays in the plan Catalyst sees. ``Identity`` returns the frame
  itself, so the default reload is scan → project → sink, with no
  Python worker;
- every other plug-in runs as an Arrow-batched ``mapInPandas``
  flat-map: the transformer sees one pandas row at a time
  (``transform(row) -> iterable of (key, value)``) while Spark moves
  data in vectorized batches. The plug-in module is registered with
  PySpark's cloudpickle *by value*, so the closure carries the
  plug-in's own code and executors need not import its module. Code it
  imports from other modules (this package's ``Transformer`` base, for
  one) still travels by reference, so :func:`apply_transformer` ships
  this package to the executors (``session.ensure_shipped``).
"""

from __future__ import annotations

import importlib
from collections.abc import Iterable

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_topic_dumper_spark.session import ensure_shipped


class Transformer:
    """Protocol (duck-typed; subclassing optional): yield 0..n
    ``(key: bytes|None, value: bytes|None)`` tuples per input row.

    A plug-in may also define ``transform_frame(records: DataFrame) ->
    DataFrame``: it receives the ``(key binary, value binary)`` frame
    and returns the transformed frame with the same two columns. It is
    used instead of ``transform`` (see :func:`apply_transformer`), so
    the plug-in's work stays on the JVM."""

    def transform(self, row) -> Iterable[tuple[bytes | None, bytes | None]]:
        raise NotImplementedError

    def get_id(self) -> str:
        return type(self).__name__


class Identity(Transformer):
    """Default transformer — emits the row unchanged (reference
    transformer.py:2-8)."""

    def transform(self, row):
        yield (row.key, row.value)

    def transform_frame(self, records: DataFrame) -> DataFrame:
        return records

    def get_id(self) -> str:
        return "Identity"


def load_transformer(spec: str | None):
    """Load ``"package.module:ClassName"`` (reference CLI flag
    main.py:69-72; dynamic import kafka_client.py:199-205). ``None`` →
    Identity. The plug-in module is registered for by-value pickling
    with ``pyspark.cloudpickle`` — the copy PySpark pickles UDFs with —
    so the instance ships inside UDF closures without the module being
    importable on executors."""
    if spec is None:
        return Identity()
    module_name, _, class_name = spec.partition(":")
    if not module_name or not class_name:
        raise ValueError(
            f"transformer spec must be 'module:Class', got {spec!r}"
        )
    module = importlib.import_module(module_name)
    cloudpickle.register_pickle_by_value(module)
    cls = getattr(module, class_name)
    return cls()


TRANSFORM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
    ]
)


def _defining_class(cls: type, name: str) -> type | None:
    return next((c for c in cls.__mro__ if name in vars(c)), None)


def _columns(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema.fields]


def _frame_hook(transformer):
    """``transformer.transform_frame``, or None when the row adapter
    must run. The frame path is taken only when the class supplying
    ``transform_frame`` is (a subclass of) the class supplying
    ``transform``: a subclass of Identity that overrides only
    ``transform`` must not have its transform skipped."""
    cls = type(transformer)
    frame_cls = _defining_class(cls, "transform_frame")
    if frame_cls is None:
        return None
    row_cls = _defining_class(cls, "transform")
    if row_cls is not None and not issubclass(frame_cls, row_cls):
        return None
    return transformer.transform_frame


def apply_transformer(records: DataFrame, transformer) -> DataFrame:
    """Flat-map ``records`` (must have binary ``key``/``value``
    columns) through the transformer — the Spark form of the
    reference's per-row produce loop (kafka_client.py:395-398).

    A plug-in with ``transform_frame`` (see :func:`_frame_hook`) is
    applied to the ``(key, value)`` frame; its output must be exactly
    ``key binary, value binary`` (nullability aside), checked here at
    plan time, before any sink runs. Otherwise mapInPandas gives
    vectorized Arrow transfer; inside each batch the transformer keeps
    its 1→0..n row-at-a-time contract, so reference plug-ins port by
    changing only their row accessors. The transformer instance is
    captured in the closure by value.
    """
    records = records.select("key", "value")
    frame_hook = _frame_hook(transformer)
    if frame_hook is not None:
        out = frame_hook(records)
        if not isinstance(out, DataFrame):
            got = type(out).__name__
        elif _columns(out.schema) != _columns(TRANSFORM_OUTPUT_SCHEMA):
            got = out.schema.simpleString()
        else:
            return out
        raise ValueError(
            f"transformer {transformer.get_id()!r}: transform_frame must return "
            f"a DataFrame of key binary, value binary; got {got}"
        )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            keys, values = [], []
            for row in pdf.itertuples(index=False):
                for out in transformer.transform(row):
                    keys.append(out[0])
                    values.append(out[1])
            yield pd.DataFrame({"key": keys, "value": values}, dtype=object)

    # the plug-in's Transformer base class is pickled by reference
    ensure_shipped(records.sparkSession)
    return records.mapInPandas(run, schema=TRANSFORM_OUTPUT_SCHEMA)
