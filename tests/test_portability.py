"""Driver-harness portability: the correctness gate builds its OWN bare
SparkSession (none of our session-factory confs) and canonicalizes results
by sorting a pandas frame. Round 1 lost 6 queries to exactly those two
differences (VERDICT.md "What's wrong" #1-#2). These tests reproduce the
harness's environment so a regression is caught locally, not in the gate.
"""

from __future__ import annotations

import os
import subprocess
import sys

import __spark_entry__ as e

SF = "/root/testdata/sf0.01"

# One query per round-1 failure class: events TIMESTAMP(NANOS) reads, and
# pandas-unsortable output columns. Plus the flagship as a control.
_VANILLA_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .appName("vanilla-portability")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
import __spark_entry__ as e

qs = e.queries()
for name in ("hourly_event_rollup", "asof_join_purchase_click",
             "window_lag_delta", "json_props_stats",
             "window_running_user_spend", "multimodal_fake_features",
             "scd2_user_state_history", "asof_join_cogroup",
             "image_near_dup_survivors",  # r8 mapInPandas pHash worker closure
             "video_near_dup_survivors",  # r9 frame sampler + pHash closures
             "title_best_abstract"):  # flagship sparse term join + arg-max
    df = qs[name](spark, {sf!r})
    pdf = df.toPandas()
    # the harness's rows-only canonicalizer: lexsort on every column
    pdf.sort_values(by=list(pdf.columns), inplace=True, kind="mergesort")
    print(name, len(pdf), flush=True)
spark.stop()
print("PORTABLE_OK")
"""


def test_queries_survive_vanilla_session():
    """Run the round-1 failure queries in a subprocess whose SparkSession has
    NONE of our factory confs (no nanosAsLong, no Arrow tuning)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _VANILLA_SCRIPT.format(repo=repo, sf=SF)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "PORTABLE_OK" in proc.stdout, proc.stdout[-2000:]


def test_all_query_outputs_canonicalize(spark):
    """Every registered query's sf0.001 output must survive the harness's
    pandas lexsort — i.e. no raw array/map/struct columns on the query
    surface (operators may return them; registered queries must not)."""
    sf = "/root/testdata/sf0.001"
    failures = []
    for name, fn in sorted(e.queries().items()):
        pdf = fn(spark, sf).limit(200).toPandas()
        try:
            pdf.sort_values(by=list(pdf.columns), kind="mergesort")
        except TypeError as exc:
            failures.append(f"{name}: {exc}")
    assert not failures, "\n".join(failures)
