"""Capture .explain("formatted") output for named registry queries.

Usage: python tools/explain_capture.py <outdir> <query> [<query> ...]

Writes <outdir>/<query>_<suffix>.txt (suffix from $EXPLAIN_SUFFIX,
default "before"). A streaming row drains its queries while its plan is
built, so that file holds only the read of the sink; each streaming
query the row starts also gets <outdir>/<query>_stream<i>_<suffix>.txt,
the extended plan of its last micro-batch. Iterative operators
(PageRank, CC, HITS, LPA, k-core) run their sweeps while the row's plan
is built and return a plan that reads checkpointed blocks, so every
frame checkpointed meanwhile (``DataFrame.checkpoint`` or
``localCheckpoint``) gets <outdir>/<query>_ckpt<i>_<suffix>.txt, the
formatted plan of that frame: one per sweep, in order. Each row runs in
its own ``operator_caches()`` scope, so what one row pins cannot change
the plans captured for the rows after it.

The captures carry values that differ from run to run: expression ids,
the RDD ids of ``LogicalRDD`` scans (``Scan ExistingRDD``), and for
streams run ids, checkpoint paths and batch timestamps. Mask them
before comparing two captures.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
from pyspark.sql.streaming import DataStreamWriter  # noqa: E402

from kafka_topic_dumper_spark import registry  # noqa: E402
from kafka_topic_dumper_spark.functions.caching import operator_caches  # noqa: E402
from kafka_topic_dumper_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    outdir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(outdir, exist_ok=True)
    suffix = os.environ.get("EXPLAIN_SUFFIX", "before")
    spark = get_session("kafka_topic_dumper_spark-explain")
    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        query = start(self, *args, **kwargs)
        started.append(query)
        return query

    DataStreamWriter.start = recording_start
    checkpointed = []

    def recording(method):
        def record(self, *args, **kwargs):
            checkpointed.append(formatted(self))
            return method(self, *args, **kwargs)

        return record

    DataFrame.checkpoint = recording(DataFrame.checkpoint)
    DataFrame.localCheckpoint = recording(DataFrame.localCheckpoint)
    for name in names:
        started.clear()
        checkpointed.clear()
        with operator_caches():
            df = registry.QUERIES[name](spark, SF_DIR)
            texts = {name: formatted(df)}
        for i, query in enumerate(started):
            texts[f"{name}_stream{i}"] = query._jsq.explainInternal(True)
        for i, text in enumerate(checkpointed):
            texts[f"{name}_ckpt{i}"] = text
        for stem, text in texts.items():
            path = os.path.join(outdir, f"{stem}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(text)
            print(f"wrote {path} ({len(text)} chars)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
