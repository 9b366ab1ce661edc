"""Capture .explain("formatted") output for named registry queries.

Usage: python tools/explain_capture.py <outdir> <query> [<query> ...]

Writes <outdir>/<query>_<suffix>.txt (suffix from $EXPLAIN_SUFFIX,
default "before"). A streaming row drains its queries while its plan is
built, so that file holds only the read of the sink; each streaming
query the row starts also gets <outdir>/<query>_stream<i>_<suffix>.txt,
the extended plan of its last micro-batch. Those carry expression ids,
run ids, checkpoint paths and batch timestamps that differ from run to
run; mask them before comparing two captures. Iterative operators
(pagerank, CC, k-core, LPA) eagerly execute their sweeps at plan-construction time and return a
final plan whose lineage is checkpoint-truncated — the captured text
then shows the per-sweep terminal shape, which is the informative part.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.streaming import DataStreamWriter  # noqa: E402

from kafka_topic_dumper_spark import registry  # noqa: E402
from kafka_topic_dumper_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


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
    for name in names:
        started.clear()
        fn = registry.QUERIES[name]
        df = fn(spark, SF_DIR)
        texts = {
            name: df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        }
        for i, query in enumerate(started):
            texts[f"{name}_stream{i}"] = query._jsq.explainInternal(True)
        for stem, text in texts.items():
            path = os.path.join(outdir, f"{stem}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(text)
            print(f"wrote {path} ({len(text)} chars)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
