"""bench.py's catalog timing protocol: ``time_query`` times a query's
``fn()`` build exactly when ``fn()`` runs Spark work (``times_build``), and
the names it treats as pure plans really are pure plans."""

from __future__ import annotations

import time

import pytest

import bench
from logstream_processing_service_spark.catalog import all_specs


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize(
    "name, timed", [("ann_hnsw", True), ("pricing_summary", False)]
)
def test_time_query_times_the_build_only_when_it_runs_work(spark, name, timed):
    assert (name in bench.EAGER_BUILD) is timed
    assert bench.times_build(name) is timed

    def fn(spark_, sf_dir):
        df = spark_.range(4).persist()
        df.count()
        time.sleep(2)
        return df

    # warm the noop write path
    bench.time_query(spark, name, lambda spark_, sf_dir: spark_.range(4), "unused")
    before = _persistent_rdds(spark)
    elapsed = bench.time_query(spark, name, fn, "unused")
    if timed:
        assert elapsed >= 2, elapsed
    else:
        assert elapsed < 1, elapsed
    assert _persistent_rdds(spark) <= before


def test_bench_rejects_fewer_than_one_rep():
    with pytest.raises(SystemExit):
        bench.main(["pricing_summary", "--reps", "0"])


def test_times_build_applies_the_suffix_rule_to_any_name():
    assert bench.times_build("lsh_compaction_twin")
    assert bench.times_build("some_registry_query")
    assert not bench.times_build("merkle_repair_plan")


def test_scaling_study_extras_are_unregistered():
    import importlib.util
    import pathlib

    path = pathlib.Path(bench.__file__).parent / "tools" / "scaling_study.py"
    mod_spec = importlib.util.spec_from_file_location("scaling_study", path)
    study = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(study)
    extras = study._extra_queries()
    registered = {s.name for s in all_specs()}
    assert extras
    assert not set(extras) & registered


@pytest.mark.slow
def test_untimed_builds_submit_only_schema_reads(spark, sf_dir):
    """A HEADLINE query that ``times_build`` rejects has its ``fn()`` build left out
    of the timed window, so ``fn()`` may submit only the parquet schema
    reads of its loaders: any other job is real work the bench would not
    time."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    specs = {s.name: s for s in all_specs()}
    offenders = {}
    try:
        for name in bench.HEADLINE:
            if bench.times_build(name):
                continue
            group = f"bench-protocol:{name}"
            sc.setJobGroup(group, group)
            specs[name].fn(spark, sf_dir)
            stages = {
                tracker.getStageInfo(s).name
                for j in tracker.getJobIdsForGroup(group)
                for s in tracker.getJobInfo(j).stageIds
            }
            work = sorted(s for s in stages if not s.startswith("parquet at "))
            if work:
                offenders[name] = work
            spark.catalog.clearCache()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not offenders, "\n".join(f"{n}: {s}" for n, s in offenders.items())


def test_scaling_study_rebuilds_unfinished_corpora(tmp_path, monkeypatch):
    """A corpus is reused only when its ``_COMPLETE`` marker, written after
    the build returns, names the current source SF; an interrupted build
    or one from another SF is removed and rebuilt."""
    import importlib.util
    import pathlib

    path = pathlib.Path(bench.__file__).parent / "tools" / "scaling_study.py"
    mod_spec = importlib.util.spec_from_file_location("scaling_study", path)
    study = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(study)
    monkeypatch.setattr(study, "SRC_SF", "/data/sf0.1")
    corpus = tmp_path / "scale10"
    builds = []

    def build():
        corpus.mkdir()
        (corpus / "documents.parquet").write_text("docs")
        builds.append(1)

    def interrupted():
        build()
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        study._ensure_corpus(str(corpus), interrupted)
    assert (corpus / "documents.parquet").exists()
    study._ensure_corpus(str(corpus), build)  # no marker: rebuilt
    study._ensure_corpus(str(corpus), build)  # finished build: reused
    assert len(builds) == 2
    assert (corpus / "_COMPLETE").read_text() == "/data/sf0.1"
    monkeypatch.setattr(study, "SRC_SF", "/data/sf1")
    study._ensure_corpus(str(corpus), build)  # another source SF: rebuilt
    assert len(builds) == 3
