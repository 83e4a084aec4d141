"""Job budget of the artifact read path: opening the artifact and building
a point-lookup DataFrame run NO Spark job.  The manifest's persisted schema
is pinned on every read, so a parquet footer is never opened at plan time;
a schema-inference job coming back silently fails here."""

import json
import os
import shutil

import pytest

from solr_map_reduce_spark.index_reader import SearchIndex
from solr_map_reduce_spark.indexing import MANIFEST, IndexJob, IndexJobConfig, read_index
from solr_map_reduce_spark.schema import Field, IndexSchema

SCHEMA = IndexSchema(
    fields=(
        Field("id", "string", required=True),
        Field("text", "text_en"),
        Field("v", "long"),
    ),
    unique_key="id",
)
ROWS = [(f"d{i:03d}", f"alpha doc {i}", i) for i in range(40)]


@pytest.fixture(scope="module")
def artifact(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("budget") / "idx")
    IndexJob(
        IndexJobConfig(schema=SCHEMA, shards=2, dedup="none", key_ranges=True)
    ).build(spark.createDataFrame(ROWS, "id string, text string, v long"), out)
    return out


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_path_launches_no_job(spark, artifact):
    idx = SearchIndex.open(spark, artifact)
    get_df, jobs = _jobs_of(spark, "budget-get", lambda: idx.get("d007"))
    assert jobs == []
    many_df, jobs = _jobs_of(
        spark, "budget-get-many", lambda: idx.get_many(["d001", "d030", "nope"])
    )
    assert jobs == []
    full, jobs = _jobs_of(spark, "budget-read-index", lambda: read_index(spark, artifact))
    assert jobs == []
    # a key past every segment's range: no candidate file at all
    miss, jobs = _jobs_of(spark, "budget-miss", lambda: idx.get("zzz"))
    assert jobs == []
    assert miss.count() == 0 and miss.columns == idx.columns
    # the zero-job DataFrames still answer correctly
    assert [(r["id"], r["v"]) for r in get_df.collect()] == [("d007", 7)]
    assert sorted(r["id"] for r in many_df.collect()) == ["d001", "d030"]
    assert full.count() == len(ROWS)
    assert full.columns == idx.columns


def test_manifest_without_schema_json_still_opens(spark, artifact, tmp_path):
    """A legacy manifest (no ``schema_json``) falls back to inference and
    serves the same rows."""
    legacy = str(tmp_path / "legacy")
    shutil.copytree(artifact, legacy)
    mpath = os.path.join(legacy, MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["schema_json"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    def rows(df):
        return sorted(tuple(r) for r in df.select("id", "v", "shard").collect())

    assert rows(read_index(spark, legacy)) == rows(read_index(spark, artifact))
    new, old = SearchIndex.open(spark, legacy), SearchIndex.open(spark, artifact)
    assert rows(new.get("d007")) == rows(old.get("d007")) != []
    keys = ["d001", "d030", "nope"]
    assert rows(new.get_many(keys)) == rows(old.get_many(keys))
