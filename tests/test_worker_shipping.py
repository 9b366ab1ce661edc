"""The codec rows must run for a caller that knows nothing about this
package's shipping: a foreign process, started outside the repo, with a
vanilla SparkSession (no ``get_session``, no ``ensure_shipped``). Its
Python workers can import the package only if the operators ship it, so
a codec kernel pickled by reference without shipping dies there with
ModuleNotFoundError even though every in-repo test passes."""

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
con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")

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


def test_codec_rows_match_oracles_from_a_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, SF_SMOKE, *CODEC_ROWS],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result == {"mismatches": []}
