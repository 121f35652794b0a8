"""Golden tests pinning the reference merge semantics
(models/submission.py:27-104, models/file.py:50-72, models/user.py:8-48)
on hand-built snapshot histories — FIXTURES.md family A cases."""

import json

import pytest
from pyspark.sql import functions as F

from faexport_db_spark.operators.merge import (
    merged_submission_web_json,
    merged_submissions,
    merged_users,
)

from fixtures_faexport import (
    b64,
    file_hashes,
    files,
    keywords,
    submission_snapshots,
    user_snapshots,
)


@pytest.fixture(scope="module")
def merged(spark):
    df = merged_submissions(
        submission_snapshots(spark), keywords(spark), files(spark), file_hashes(spark)
    )
    return {(r["website_id"], r["site_submission_id"]): r.asDict(recursive=True) for r in df.collect()}


def test_newest_non_null_coalesce(merged):
    entity = merged[("fa", "101")]
    assert entity["title"] == "Old Title"  # only the oldest snapshot has one
    assert entity["description"] == "newer desc"
    assert entity["uploader_site_user_id"] == "u1"
    assert entity["datetime_posted"].year == 2023


def test_latest_value_and_bounds(merged):
    entity = merged[("fa", "101")]
    assert entity["is_deleted"] is True  # newest snapshot wins even over non-null older
    assert entity["snapshot_count"] == 3
    assert entity["first_scanned"].day == 1 and entity["latest_update"].day == 3


def test_keywords_from_newest_recorded(merged):
    # fa/101: only snapshot 1 recorded keywords → sorted by (ordinal, keyword)
    assert [k["keyword"] for k in merged[("fa", "101")]["keywords"]] == ["cat", "dog"]
    # fa/102: newest snapshot recorded an EMPTY list → [] beats older ["x"]
    assert merged[("fa", "102")]["keywords"] == []
    # e621/201: never recorded → []
    assert merged[("e621", "201")]["keywords"] == []


def test_extra_data_shallow_layering(merged):
    data = json.loads(merged[("fa", "101")]["extra_data"])
    # newest-wins per top-level key; nested dict REPLACED wholesale, not deep-merged
    assert data == {"a": 1, "b": {"y": 2}, "c": 3}
    # all-null history folds to {} (reference starts from {})
    assert json.loads(merged[("e621", "201")]["extra_data"]) == {}


def test_file_clash_reset(merged):
    [main] = merged[("fa", "101")]["files"]
    # url changed in snapshot 3 ⇒ clash ⇒ full replace: new url/size, old hashes dropped
    assert main["file_url"] == "http://a/2.png"
    assert main["file_size"] == 200
    assert json.loads(main["hashes"]) == [{"algo_id": 1, "hash_b64": b64(b"\x03\x03")}]
    assert main["extra_data"] is None  # clash also resets extra_data


def test_file_union_before_clash(spark):
    # restrict history to snapshots 1-2: no clash ⇒ hash union + extra merge
    snaps = submission_snapshots(spark).filter(F.col("submission_snapshot_id") <= 2)
    out = merged_submissions(snaps, keywords(spark), files(spark), file_hashes(spark))
    [main] = out.filter(F.col("site_submission_id") == "101").collect()[0]["files"]
    assert json.loads(main["hashes"]) == [
        {"algo_id": 1, "hash_b64": b64(b"\x01\x01")},
        {"algo_id": 2, "hash_b64": b64(b"\x02\x02")},
    ]
    assert json.loads(main["extra_data"]) == {"fe": 2, "g": 1}  # overlay wins
    assert main["file_size"] == 100  # size never updated (immutable, not null-filled)


def test_merged_users(spark):
    out = {r["site_user_id"]: r.asDict() for r in merged_users(user_snapshots(spark)).collect()}
    assert out["u1"]["display_name"] == "Name1"  # newest non-null walk
    assert out["u1"]["is_deleted"] is True
    data = json.loads(out["u1"]["extra_data"])
    assert data == {"w": [{"n": "a"}], "p": 2}  # nested list survives, p overridden
    assert out["u9"]["snapshot_count"] == 1


@pytest.mark.slow
def test_order_insensitivity(spark):
    """Merged view must not depend on ingest/storage order (README.md:11:
    late-arriving old snapshots slot into history)."""
    snaps = submission_snapshots(spark).orderBy(F.rand(seed=7)).repartition(3)
    out = merged_submissions(snaps, keywords(spark), files(spark), file_hashes(spark))
    entity = out.filter(F.col("site_submission_id") == "101").collect()[0]
    assert entity["title"] == "Old Title"
    assert entity["is_deleted"] is True
    assert [k["keyword"] for k in entity["keywords"]] == ["cat", "dog"]
    [main] = entity["files"]
    assert main["file_url"] == "http://a/2.png"


@pytest.mark.slow
def test_web_json_shape(spark):
    df = merged_submissions(
        submission_snapshots(spark), keywords(spark), files(spark), file_hashes(spark)
    )
    [row] = merged_submission_web_json(df).filter(F.col("site_submission_id") == "101").collect()
    doc = json.loads(row["web_json"])
    assert doc["cache_data"]["snapshot_count"] == 3
    assert doc["submission_data"]["title"] == "Old Title"
    assert doc["submission_data"]["datetime_posted"].startswith("2023-12-31T00:00:00")


def test_cdc_apply_tombstone_semantics(spark):
    """Latest-seq wins; a final tombstone kills the key; a tombstone
    followed by a higher-seq upsert revives it."""
    from faexport_db_spark.operators.merge import cdc_apply

    log = spark.createDataFrame(
        [
            (1, 1, 10.0, "U"),
            (1, 2, 20.0, "U"),   # key 1 -> latest upsert wins
            (2, 1, 30.0, "U"),
            (2, 2, None, "D"),   # key 2 -> deleted, stays gone
            (3, 1, None, "D"),
            (3, 2, 50.0, "U"),   # key 3 -> revived after delete
        ],
        "k bigint, seq bigint, v double, op string",
    )
    got = {r["k"]: r["v"] for r in cdc_apply(log, ["k"], "seq").collect()}
    assert got == {1: 20.0, 3: 50.0}
