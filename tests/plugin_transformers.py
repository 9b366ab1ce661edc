"""Test transformer plug-ins (FIXTURES.md §1.3): Identity is the
engine default; Explode tests 1→k flat-map semantics; Drop tests 1→0;
SuffixedIdentity tests that a transform-only subclass of Identity keeps
the row path; FailOnce injects one transformer failure. Loaded via the
``module:Class`` plug-in API."""

from __future__ import annotations

import os

from kafka_topic_dumper_spark.transform import Identity, Transformer


class Explode(Transformer):
    """1→2: emits the row twice, second copy value-suffixed."""

    def transform(self, row):
        yield (row.key, row.value)
        suffix = b"-copy"
        yield (row.key, (row.value or b"") + suffix)

    def get_id(self) -> str:
        return "Explode"


class Drop(Transformer):
    """1→0 for null-keyed rows, else identity."""

    def transform(self, row):
        if row.key is not None:
            yield (row.key, row.value)

    def get_id(self) -> str:
        return "Drop"


class SuffixedIdentity(Identity):
    """Subclasses Identity and overrides only ``transform`` (value
    suffixed): the inherited ``transform_frame`` must not be used, or
    the suffix would be silently skipped."""

    def transform(self, row):
        yield (row.key, (row.value or b"") + b"-sfx")

    def get_id(self) -> str:
        return "SuffixedIdentity"


class FailOnce(Transformer):
    """Identity on the row path that raises once: the first call to
    find ``marker`` absent creates it and raises, every later call
    passes the row through. ``marker`` is set on the instance before
    the query starts; the exclusive create makes exactly one call fail
    even when tasks race in separate workers."""

    marker: str = ""

    def transform(self, row):
        if not os.path.exists(self.marker):
            try:
                os.close(os.open(self.marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            except FileExistsError:
                pass
            else:
                raise RuntimeError("injected transformer failure")
        yield (row.key, row.value)

    def get_id(self) -> str:
        return "FailOnce"
