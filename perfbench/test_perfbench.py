"""Tests of the benchmark's own parts: seeded inputs, span arithmetic, and
job attribution by job-id window checked against Spark's status tracker.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

import census
import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_inputs_repeat_per_seed_and_keep_shape_across_seeds():
    a, b, c = (datagen.build_tables(s, sf=0.001) for s in (7, 7, 8))
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name])
        assert a[name].schema == c[name].schema
        assert a[name].num_rows == c[name].num_rows
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_covered_ms_is_the_clipped_union():
    spans = [(0, 10), (5, 15), (20, 30), (40, 50)]
    assert census.covered_ms(spans, 0, 100) == 35
    assert census.covered_ms(spans, 8, 25) == 12
    assert census.covered_ms([], 0, 10) == 0
    assert census.covered_ms([(0, 5)], 10, 20) == 0


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    os.environ.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_LOCAL_DIRS=str(work / "local"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)
    from rust_dataframe_spark import catalog, catalog_sources
    from rust_dataframe_spark.context import get_spark

    catalog_sources._SCRATCH = str(work / "io")
    data = datagen.write_dir(str(work / "sf0.001"), seed=3, sf=0.001)
    spark = get_spark("perfbench-test")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, data, catalog.QUERIES
    spark.stop()


def _grouped_call(spark, queries, name, data):
    """Run one call under a job group; return (job-id window, group's ids)."""
    sc = spark.sparkContext
    next_job = census.job_counter(sc)
    sc.setJobGroup(name, name)
    try:
        first = next_job()
        queries[name](spark, data).write.format("noop").mode("overwrite").save()
        end = next_job()
    finally:
        sc.setJobGroup(None, None)
    return range(first, end), set(sc.statusTracker().getJobIdsForGroup(name))


def test_batch_census_matches_the_job_group(session):
    spark, data, queries = session
    window, grouped = _grouped_call(spark, queries, "q01_pricing_summary", data)
    assert len(window) > 0
    assert set(window) == grouped
    jobs = census.read_jobs(spark.sparkContext, window.start, window.stop)
    assert jobs["jobs"] == len(window) and jobs["tasks"] > 0
    assert len(jobs["spans"]) == len(window)


def test_streaming_census_counts_jobs_the_group_misses(session):
    spark, data, queries = session
    window, grouped = _grouped_call(spark, queries, "q480_delta_stream_sink", data)
    assert grouped < set(window)  # StreamExecution sets its own group
    jobs = census.read_jobs(spark.sparkContext, window.start, window.stop)
    assert jobs["jobs"] == len(window)
    assert len(jobs["spans"]) == len(window)
