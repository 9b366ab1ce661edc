"""The codec and similarity-kernel rows, and a row-path transformer,
must run for a caller that knows nothing about this package's shipping: a foreign process, started
outside the repo, with a vanilla SparkSession (no ``get_session``, no
``ensure_shipped``). Its Python workers can import the package only if
the operators ship it, so a kernel pickled by reference without
shipping dies there with ModuleNotFoundError even though every in-repo
test passes. Each family runs in its own process, so one family's
shipping cannot cover for the other's."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CODEC_ROWS = [
    "multimodal_decode_png",
    "multimodal_decode_gif",
    "multimodal_decode_jpeg",
    "multimodal_decode_mjpeg",
    "multimodal_wav_features",
    "multimodal_wav_spectral",
    "multimodal_avi_frames",
    "multimodal_phash_dct",
]

SIMILARITY_ROWS = [
    "similarity_topk_bruteforce",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
]

_DRIVER = """
import json, math, sys
sys.path.insert(0, sys.argv[1])
import duckdb
from pyspark.sql import SparkSession
from kafka_topic_dumper_spark import registry

sf, names = sys.argv[2], sys.argv[3:]
spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
oracles = registry.resolve_oracles(sf)
con = duckdb.connect()
for table in ("documents", "embeddings"):
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf}/{table}.parquet'")

def rows(rs):
    norm = lambda v: round(v, 6) if isinstance(v, float) and not math.isnan(v) else v
    return sorted(tuple(norm(x) for x in r) for r in rs)

bad = []
for name in names:
    sdf = registry.QUERIES[name](spark, sf)
    rel = con.sql(oracles[name])
    if sdf.columns != rel.columns or rows(sdf.collect()) != rows(rel.fetchall()):
        bad.append(name)
spark.stop()
print(json.dumps({"mismatches": bad}))
"""


def _mismatches_from_a_foreign_cwd(tmp_path, rows: list[str]) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, SF_SMOKE, *rows],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_codec_rows_match_oracles_from_a_foreign_cwd(tmp_path):
    assert _mismatches_from_a_foreign_cwd(tmp_path, CODEC_ROWS) == {"mismatches": []}


def test_similarity_rows_match_oracles_from_a_foreign_cwd(tmp_path):
    assert _mismatches_from_a_foreign_cwd(tmp_path, SIMILARITY_ROWS) == {
        "mismatches": []
    }


def test_ensure_shipped_ships_once_per_context(spark):
    """Whether the package shipped is read from the context's own file
    list, so a second call on the same context adds no second zip."""
    from kafka_topic_dumper_spark.session import ensure_shipped

    ensure_shipped(spark)
    ensure_shipped(spark)
    shipped = [
        f
        for f in spark.sparkContext.listFiles
        if os.path.basename(f).startswith("ktds_pkg_")
    ]
    assert len(shipped) == 1, shipped


_TRANSFORMER_DRIVER = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from kafka_topic_dumper_spark.transform import Transformer, apply_transformer

class Twice(Transformer):
    def transform(self, row):
        yield (row.key, row.value)
        yield (row.key, row.value + b"-2")

    def get_id(self):
        return "Twice"

spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
records = spark.createDataFrame(
    [(b"k%d" % i, b"v%d" % i) for i in range(10)], "key binary, value binary"
)
out = apply_transformer(records, Twice()).collect()
spark.stop()
print(json.dumps({"rows": len(out)}))
"""


def test_row_path_transformer_runs_from_a_foreign_cwd(tmp_path):
    """A ``Transformer`` subclass on the row path pickles its base class
    by reference, so ``apply_transformer`` itself must ship the package
    to workers that cannot import it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _TRANSFORMER_DRIVER, REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {"rows": 20}
