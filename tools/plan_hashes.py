#!/usr/bin/env python
"""Changed-plan detector: hash every declared query's normalized
explain("formatted") so two trees can be diffed for REAL plan changes.
Usage:

    python tools/plan_hashes.py <repo_root> <out.json>

The corpus is ``io.DEFAULT_SF_DIR`` (``$SPARK_GRAFT_SF_DIR``, else the
sf0.1 default). Run it on the old tree (a second checkout) and the new
tree, diff the two JSON files; run it TWICE on the same tree to exclude
session-dependent noise. Normalization strips expression ids, plan ids,
codegen ids, RDD ids, paths, statistics, AND HOF lambda-variable ids (x_N — these
are session-counter-dependent: one extra lambda built early shifts
every later query's ids, which falsely flagged 44 queries before the
normalizer learned this). The surviving hash differences are the
queries whose physical plans really changed."""
import sys, io, os, re, json, hashlib
from contextlib import redirect_stdout
root = sys.argv[1]; out = sys.argv[2]
sys.path.insert(0, root)
os.chdir(root)
from newsmaper_etl_spark.session import get_spark
from newsmaper_etl_spark.io import DEFAULT_SF_DIR
from newsmaper_etl_spark.registry import QUERIES, _ensure_loaded
_ensure_loaded()
spark = get_spark(app_name="planhash", shuffle_partitions=4)
spark.conf.set("spark.sql.adaptive.enabled", "false")
def norm(s):
    s = re.sub(r"#\d+", "#", s); s = re.sub(r"\bx_\d+\b", "x_", s); s = re.sub(r"lambda \w+", "lambda v", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"codegen id : \d+", "codegen id :", s)
    s = re.sub(r"\[id=#?\d*\]", "", s)
    s = re.sub(r"ExistingRDD\[\d*\]", "ExistingRDD", s)
    s = re.sub(r"/tmp/\S+", "/tmp/X", s)
    s = re.sub(r"Location: \S+", "Location: X", s)
    s = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD", s)
    s = re.sub(r"Statistics\(.*?\)", "", s)
    s = re.sub(r"range\(\d+, \d+, [^)]*\)", "range", s)
    return s
res = {}
for n in sorted(QUERIES):
    try:
        df = QUERIES[n].fn(spark, DEFAULT_SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        res[n] = hashlib.sha1(norm(buf.getvalue()).encode()).hexdigest()[:12]
    except Exception as e:
        res[n] = "ERR:" + repr(e)[:80]
json.dump(res, open(out, "w"), indent=0)
print("done", len(res))
