"""Parallelism invariance (SURVEY §5.4): the same corpus + seeds at
local[2] vs local[8] must produce identical frontier/seen/extracted
content.  Each parallelism level runs in its own subprocess (own JVM) —
same-process SparkSessions can't change master."""

import json
import os
import subprocess
import sys

# the checkout under test: the subprocess (and its Python workers) must
# import THIS tree's sparkcrawl, wherever it lives
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import sys, json, shutil, os
root, master, wd = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, root)
from tests.conftest import make_spark
from sparkcrawl import corpus
from sparkcrawl.rounds import CrawlEngine
from sparkcrawl.schemas import ROBOTS
shuffle = {"local[2]": 4, "local[8]": 16}[master]
spark = make_spark(master, shuffle_partitions=shuffle)
spark.sparkContext.setLogLevel("ERROR")
N = 150
eng = CrawlEngine(spark, wd, corpus.pages_df(spark, N),
                  spark.createDataFrame(corpus.robots_rows(), ROBOTS),
                  budget_per_host=3, n_buckets=8, salt_buckets=4)
eng.init(corpus.seed_urls(N, 5))
eng.run(3, stop_when_idle=False)
frontier = sorted((r["url_hash"], r["discovered_round"], r["depth"],
                   r["lineage_src_url_hash"])
                  for r in eng.frontier.read(spark).collect())
import hashlib
texts = sorted((r["url_hash"], hashlib.md5(r["text"].encode()).hexdigest())
               for r in eng.extracted.read(spark).select("url_hash","text").collect())
print(json.dumps({"frontier": frontier, "texts": texts}))
spark.stop()
"""


def _run(master, wd):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, ROOT, master, str(wd)],
        capture_output=True, text=True, timeout=900, env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_local2_vs_local8_identical(tmp_path):
    a = _run("local[2]", tmp_path / "p2")
    b = _run("local[8]", tmp_path / "p8")
    assert a["frontier"] == b["frontier"]
    assert a["texts"] == b["texts"]
