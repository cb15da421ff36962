"""Golden-semantics tests for the reference ETL rebuild, on synthetic
reference-shaped inputs (FIXTURES.md §A): pins every observed behavior
of /root/reference/Song-Analytics-with-Spark/transform-data.py."""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from big_data_projects_spark.measure import jobs_launched
from big_data_projects_spark.reference_etl import (
    LOGS_SCHEMA,
    SONGS_SCHEMA,
    process_logs,
    process_songs,
    run_reference_etl,
    songplays_fact,
    time_dim,
    user_level_listen,
    write_star_schema,
)
from conftest import restored_conf

SONGS = [
    # artist Alpha has two songs; song "Shared Title" exists under TWO
    # song_ids (join fan-out); artist_latitude/longitude nullable
    dict(num_songs=1, artist_id="AR001", artist_latitude=10.5, artist_longitude=-3.25,
         artist_location="Springfield", artist_name="Alpha", song_id="SO001",
         title="Song A", duration=180.5, year=2010),
    dict(num_songs=1, artist_id="AR001", artist_latitude=None, artist_longitude=None,
         artist_location="Springfield", artist_name="Alpha", song_id="SO002",
         title="Shared Title", duration=200.0, year=0),
    dict(num_songs=1, artist_id="AR002", artist_latitude=None, artist_longitude=None,
         artist_location="", artist_name="Beta", song_id="SO003",
         title="Shared Title", duration=120.0, year=2015),
]

BASE_TS = 1542241826796  # 2018-11-15 UTC


def log(ts_offset_s, user, first, last, level, song, artist, page="NextSong"):
    return dict(
        artist=artist, auth="Logged In", firstName=first, gender="F",
        itemInSession=0, lastName=last, length=180.0, level=level,
        location="Springfield, USA", method="PUT", page=page,
        registration=1541033612345.0, sessionId=1, song=song, status="200",
        ts=str(BASE_TS + ts_offset_s * 1000), userAgent="UA", userId=user,
    )


LOGS = [
    # user 1: listens at BOTH levels (appears in user_level_listen,
    # twice in users dim)
    log(0, "1", "Ann", "Lee", "free", "Song A", "Alpha"),
    log(60, "1", "Ann", "Lee", "paid", "Song A", "Alpha"),
    log(120, "1", "Ann", "Lee", "paid", "Shared Title", "Alpha"),
    # user 2: free only (excluded from user_level_listen)
    log(180, "2", "Bob", "Kim", "free", "Song A", "Alpha"),
    # empty userId (filtered from the report by userId != '')
    log(240, "", "", "", "free", "Song A", "Alpha"),
    log(300, "", "", "", "paid", "Song A", "Alpha"),
    # non-NextSong rows (filtered by the page predicate)
    log(360, "1", "Ann", "Lee", "paid", None, None, page="Home"),
    log(420, "2", "Bob", "Kim", "free", None, None, page="Logout"),
]


@pytest.fixture(scope="module")
def etl(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ref_etl")
    songs_path, logs_path = str(d / "songs.json"), str(d / "logs.json")
    with open(songs_path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in SONGS))
    with open(logs_path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in LOGS))
    out = str(d / "star")
    tables = run_reference_etl(spark, songs_path, logs_path, out_dir=out)
    return tables, out


def test_songs_info_dedup(etl):
    tables, _ = etl
    rows = tables["songs_info"].collect()
    assert len(rows) == 3
    assert {r.song_id for r in rows} == {"SO001", "SO002", "SO003"}


def test_artists_fillna_zero(etl):
    tables, _ = etl
    artists = {r.artist_id: r for r in tables["artists"].collect()}
    # fillna happens BEFORE dedup (transform-data.py:97-100): AR001's
    # null-coords row became (0,0) → two rows for AR001
    ar1 = [r for r in tables["artists"].collect() if r.artist_id == "AR001"]
    assert len(ar1) == 2
    assert {(r.latitude, r.longitude) for r in ar1} == {(10.5, -3.25), (0.0, 0.0)}
    assert artists["AR002"].latitude == 0.0


def test_users_level_switch_appears_twice(etl):
    tables, _ = etl
    u1 = [r for r in tables["users"].collect() if r.user_id == "1"]
    assert {r.level for r in u1} == {"free", "paid"}
    assert len(u1) == 2


def test_time_dim_utc(etl):
    tables, _ = etl
    t = {r.start_time for r in tables["time"].collect()}
    assert len(t) == 6  # 6 distinct NextSong timestamps
    one = sorted(t)[0]
    assert (one.year, one.month, one.day) == (2018, 11, 15)  # UTC, not local


def test_user_level_listen_both_levels_only(etl):
    tables, _ = etl
    rows = tables["user_level_listen"].collect()
    # only user 1 has both paid and free listens with non-empty userId
    assert len(rows) == 1
    r = rows[0]
    assert (r.full_name, r.paid_use_count, r.free_use_count) == ("Ann Lee", 2, 1)


def test_user_level_listen_keeps_only_named_users_with_both_levels(spark):
    rows = [
        log(0, None, "No", "Id", "paid", "Song A", "Alpha"),
        log(60, None, "No", "Id", "free", "Song A", "Alpha"),
        log(120, "", "", "", "paid", "Song A", "Alpha"),
        log(180, "", "", "", "free", "Song A", "Alpha"),
        log(240, "3", "Cid", "Paid", "paid", "Song A", "Alpha"),
        log(300, "3", "Cid", "Paid", "paid", "Song A", "Alpha"),
        log(360, "4", "Dee", "Both", "paid", "Song A", "Alpha"),
        log(420, "4", "Dee", "Both", "free", "Song A", "Alpha"),
        log(480, "4", "Dee", "Both", "free", "Song A", "Alpha"),
    ]
    listens = process_logs(spark.createDataFrame(rows, LOGS_SCHEMA))
    got = [tuple(r) for r in user_level_listen(listens).collect()]
    assert got == [("Dee Both", 1, 2)]


def test_star_schema_sinks_run_in_the_callers_job_group(spark, etl, tmp_path):
    """The six sinks are written from worker threads; each must carry
    the caller's job group, or its jobs escape the count."""
    d = os.path.dirname(etl[1])  # the fixture's input directory
    songs_path, logs_path = f"{d}/songs.json", f"{d}/logs.json"
    tables, jobs = jobs_launched(
        spark,
        lambda: run_reference_etl(spark, songs_path, logs_path, out_dir=str(tmp_path)),
    )
    assert jobs >= len(tables) == 6


def test_star_schema_sink_error_reaches_the_caller(spark, tmp_path):
    ok = spark.range(3)
    bad = spark.range(3).select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(Exception, match="boom"):
        write_star_schema(str(tmp_path), ok=ok, bad=bad)
    assert spark.read.parquet(str(tmp_path / "ok.parquet")).count() == 3


def test_songplays_fanout_on_natural_keys(etl):
    tables, _ = etl
    sp = tables["songplays"].collect()
    # The reference joins on artist NAME and song TITLE
    # (transform-data.py:281-284). Fan-out multiplies:
    # - every listen × 2 artist rows ("Alpha" → AR001 twice, because
    #   fillna runs BEFORE dedup so (10.5,-3.25) and (0,0) both survive)
    # - the "Shared Title" listen × 2 song rows (SO002, SO003)
    # 6 listens: 5×2×1 + 1×2×2 = 14 rows — the §4 anti-pattern, pinned.
    assert len(sp) == 14
    shared = [r for r in sp if r.song_id in ("SO002", "SO003")]
    assert len(shared) == 4
    # surrogate keys unique
    assert len({r.num for r in sp}) == len(sp)


def test_star_schema_sink_partitioned(etl, spark):
    import os

    _, out = etl
    # hive-style layout: songs_info by year; songplays by year,month
    years = os.listdir(f"{out}/songs_info.parquet")
    assert any(p.startswith("year=") for p in years)
    sp_parts = os.listdir(f"{out}/songplays.parquet")
    assert any(p.startswith("year=2018") for p in sp_parts)
    back = spark.read.parquet(f"{out}/songplays.parquet")
    assert back.count() == 14


def test_cached_listens_resident_in_memory(spark, etl):
    """C1+C2 parity (transform-data.py:235,241,247-248): the cleaned
    listens relation is cache()d and, after an action has materialized
    it, its storage level reports memory use — the reference's only
    'performance verification'. We assert the same introspection on the
    one cached relation in the rebuilt ETL."""
    cached = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(cached) >= 1, "no cached RDDs after the ETL ran"
    assert any(info.memSize() > 0 for info in cached), (
        "cached relation not memory-resident"
    )


def test_storage_level_introspection_api(spark):
    """C2 via the public df.storageLevel surface (the exact check a
    reference user ports): uncached → useMemory False; after cache()
    + action → useMemory True (MEMORY_AND_DISK default), and False
    again after unpersist()."""
    import json as _json

    from big_data_projects_spark.reference_etl import (
        LOGS_SCHEMA,
        process_logs,
        storage_info,
    )

    logs = spark.read.schema(LOGS_SCHEMA).json(
        spark.sparkContext.parallelize([_json.dumps(r) for r in LOGS])
    )
    listens = process_logs(logs)
    assert storage_info(listens)["useMemory"] is False

    listens = listens.cache()
    listens.count()  # materialize the cache
    info = storage_info(listens)
    assert info["useMemory"] is True
    assert info["useDisk"] is True  # cache() default MEMORY_AND_DISK
    listens.unpersist(blocking=True)
    assert storage_info(listens)["useMemory"] is False


def song(song_id, title, artist_id, artist_name, year=2010):
    return dict(num_songs=1, artist_id=artist_id, artist_latitude=None,
                artist_longitude=None, artist_location="", artist_name=artist_name,
                song_id=song_id, title=title, duration=100.0, year=year)


def expected_songplays(songs, logs):
    """songplays as plain nested-loop joins over the input rows: a
    listen with an epoch-ms ts × every distinct artist row of its
    artist name × every distinct songs_info row of its title."""
    artists = {(s["artist_id"], s["artist_name"], s["artist_location"],
                s["artist_latitude"] or 0.0, s["artist_longitude"] or 0.0)
               for s in songs}
    infos = {(s["song_id"], s["title"], s["artist_id"], s["year"], s["duration"])
             for s in songs}
    out = []
    for r in logs:
        if r["page"] != "NextSong" or not (r["ts"] or "").isdigit():
            continue
        ms = int(r["ts"])
        t = datetime.fromtimestamp(ms / 1000, timezone.utc)
        for a in artists:
            for i in infos:
                if a[1] == r["artist"] and i[1] == r["song"]:
                    out.append((ms, r["userId"], r["level"], i[0], i[2], r["sessionId"],
                                r["location"], r["userAgent"], t.year, t.month))
    return sorted(out)


def songplays_rows(spark, songs, logs):
    songs_info, artists = process_songs(spark.createDataFrame(songs, SONGS_SCHEMA))
    listens = process_logs(spark.createDataFrame(logs, LOGS_SCHEMA))
    sp = songplays_fact(listens, time_dim(listens), artists, songs_info)
    assert sp.columns == ["num", "start_time", "user_id", "level", "song_id", "artist_id",
                          "session_id", "location", "user_agent", "year", "month"]
    rows = sp.selectExpr("unix_millis(start_time)", *sp.columns[2:]).collect()
    return sorted(tuple(r) for r in rows)


# Two songs share a title, two artist rows share a name (Gamma), and a
# December listen checks year/month against its own timestamp.
FANOUT_SONGS = [
    song("SO1", "Twin", "AR1", "Alpha"),
    song("SO2", "Twin", "AR2", "Beta"),
    song("SO3", "Solo", "AR3", "Gamma"),
    song("SO4", "Other", "AR4", "Gamma"),
]
FANOUT_LOGS = [
    log(0, "1", "Ann", "Lee", "paid", "Twin", "Gamma"),  # 2 songs × 2 artists
    log(60, "1", "Ann", "Lee", "free", "Solo", "Gamma"),  # 1 song × 2 artists
    dict(log(0, "2", "Bob", "Kim", "free", "Solo", "Gamma"), ts="1546300799000"),
    dict(log(120, "2", "Bob", "Kim", "free", "Solo", "Gamma"), ts=None),  # dropped
    log(180, "2", "Bob", "Kim", "free", "Nowhere", "Gamma"),  # no song: dropped
]


def test_songplays_matches_plain_joins_with_fanout_and_null_ts(spark):
    got = songplays_rows(spark, FANOUT_SONGS, FANOUT_LOGS)
    assert got == expected_songplays(FANOUT_SONGS, FANOUT_LOGS)
    assert len(got) == 4 + 2 + 2
    assert {(r[-2], r[-1]) for r in got} == {(2018, 11), (2018, 12)}


def test_songplays_drops_a_non_numeric_ts_without_ansi(spark):
    # Under ANSI casts (the default) a non-numeric ts fails the ETL,
    # as it fails DuckDB's cast; without them it casts to NULL, and
    # the listen has no start time to keep.
    logs = [*FANOUT_LOGS, dict(log(240, "2", "Bob", "Kim", "free", "Solo", "Gamma"), ts="abc")]
    with restored_conf(spark, "spark.sql.ansi.enabled"):
        spark.conf.set("spark.sql.ansi.enabled", "false")
        got = songplays_rows(spark, FANOUT_SONGS, logs)
    assert got == expected_songplays(FANOUT_SONGS, logs)
    assert len(got) == 4 + 2 + 2


def test_user_level_listen_keeps_every_name_a_user_listened_under(spark):
    rows = [
        log(0, "5", "Eve", "Old", "paid", "Song A", "Alpha"),
        log(60, "5", "Eve", "New", "free", "Song A", "Alpha"),
        log(120, "5", "Eve", "New", "free", "Song A", "Alpha"),
    ]
    listens = process_logs(spark.createDataFrame(rows, LOGS_SCHEMA))
    got = sorted(tuple(r) for r in user_level_listen(listens).collect())
    assert got == [("Eve New", 1, 2), ("Eve Old", 1, 2)]


def test_songs_info_shuffles_once_on_year(spark):
    songs_info, _ = process_songs(spark.createDataFrame(FANOUT_SONGS, SONGS_SCHEMA))
    plan = songs_info._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    assert len(exchanges) == 1, plan
    kind, keys = exchanges[0]
    assert kind == "hashpartitioning"
    assert re.fullmatch(r"year#\d+, \d+", keys), plan
