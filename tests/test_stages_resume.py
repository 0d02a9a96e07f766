"""Checkpoint/resume + lineage tests (north rule: resumability)."""

from __future__ import annotations

import os
import re
import shutil

from ehr_relation_extraction_spark.oracle.fixtures import pages_df
from ehr_relation_extraction_spark.plans.stages import (
    StageRunner, _data_files, run_pipeline)

STAGES = ("pages", "shards", "mentions", "candidates", "relations",
          "triples", "linked", "components", "nodes", "edges")
# Spark names a bucketed file part-<task>-<uuid>_<bucket id>.c000...
BUCKET_ID = re.compile(r".*_(\d+)(?:\..*)?$")


def _triples_set(frames):
    return {(r["url"], r["subj"], r["pred"], r["obj"])
            for r in frames["triples"].collect()}


def test_full_run_then_resume(spark, tmp_path):
    out = str(tmp_path / "kg")
    pages = pages_df(spark, n_pages=40)

    f1 = run_pipeline(spark, pages, out, run_id="r1")
    t1 = _triples_set(f1)
    assert all(e["action"] == "ran" for e in f1["_runner"].events)
    assert len(t1) > 0

    # full resume: everything skipped, identical results
    f2 = run_pipeline(spark, pages, out, run_id="r2")
    assert all(e["action"] == "skipped" for e in f2["_runner"].events)
    assert _triples_set(f2) == t1

    # kill mid-pipeline: drop triples + downstream, resume recomputes
    # only those stages
    for stage in ("triples", "linked", "components", "nodes", "edges"):
        shutil.rmtree(f"{out}/{stage}")
    f3 = run_pipeline(spark, pages, out, run_id="r3")
    actions = {e["stage"]: e["action"] for e in f3["_runner"].events}
    assert actions["pages"] == "skipped"
    assert actions["candidates"] == "skipped"
    assert actions["triples"] == "ran"
    assert actions["edges"] == "ran"
    assert _triples_set(f3) == t1


def test_lineage_rows(spark, tmp_path):
    out = str(tmp_path / "kg2")
    frames = run_pipeline(spark, pages_df(spark, n_pages=30), out, run_id="rL")
    lin = frames["_runner"].lineage().collect()
    # row counts in lineage sum to every stage table's count, the
    # bucketed shards/mentions included; one row per data file
    by_stage: dict[str, int] = {}
    ids: dict[str, list[int]] = {}
    for r in lin:
        by_stage[r["stage"]] = by_stage.get(r["stage"], 0) + r["n_rows"]
        ids.setdefault(r["stage"], []).append(r["partition_id"])
    assert set(by_stage) == set(STAGES)
    for stage in STAGES:
        assert by_stage[stage] == frames[stage].count(), stage
        n_files = len(_data_files(os.path.join(out, stage)))
        assert sorted(ids[stage]) == list(range(n_files)), stage
    assert all(r["wall_ms"] >= 0 for r in lin)
    assert all(r["run_id"] == "rL" for r in lin)


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_lineage_starts_no_spark_job(spark, tmp_path):
    r = StageRunner(spark, str(tmp_path / "kgJ"), run_id="rJ")
    df = r.run("t", lambda: spark.range(100).repartition(3))
    assert _jobs_in_group(spark, "lineage-probe",
                          lambda: r._lineage("t", df, 7)) == []
    # the probe does see a job started in its group
    assert _jobs_in_group(spark, "lineage-probe-count", df.count) != []
    rows = [(x["partition_id"], x["n_rows"], x["wall_ms"])
            for x in r.lineage().collect()]
    assert sum(n for _, n, _ in rows) == 100
    assert sorted(p for p, _, _ in rows) == [0, 1, 2]
    assert {w for _, _, w in rows} == {7}  # rewritten, not appended


def _candidates_plans(monkeypatch) -> list[str]:
    """Executed plan of every DataFrame the candidates stage writes."""
    plans: list[str] = []
    run = StageRunner.run

    def spy(self, stage, build, **kw):
        if stage != "candidates":
            return run(self, stage, build, **kw)

        def keep():
            df = build()
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return df
        return run(self, stage, keep, **kw)

    monkeypatch.setattr(StageRunner, "run", spy)
    return plans


def test_buckets_follow_shuffle_partitions(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "kgB")
    plans = _candidates_plans(monkeypatch)
    # tiny tables would be broadcast; the shuffle join is the one the
    # bucket layout has to keep exchange-free at scale
    conf = {"spark.sql.shuffle.partitions": "3",
            "spark.sql.autoBroadcastJoinThreshold": "-1"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        pages = pages_df(spark, n_pages=30)
        run_pipeline(spark, pages, out, run_id="rB")
        for stage in ("shards", "mentions"):
            files = _data_files(os.path.join(out, stage))
            buckets = {int(BUCKET_ID.match(f).group(1)) for f in files}
            assert buckets and max(buckets) < 3, (stage, files)
        # same-session resume: shards/mentions come back from the
        # catalog with their bucket spec, candidates is rebuilt
        for stage in STAGES[3:]:
            shutil.rmtree(os.path.join(out, stage))
        f2 = run_pipeline(spark, pages, out, run_id="rB")
        actions = {e["stage"]: e["action"] for e in f2["_runner"].events}
        assert actions["mentions"] == "skipped"
        assert actions["candidates"] == "ran"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert len(plans) == 2
    for plan in plans:
        assert "Exchange" not in plan, plan
