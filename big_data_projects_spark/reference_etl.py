"""The reference's full workload, re-expressed: Sparkify song-analytics
ETL (songs + logs JSON → star schema → partitioned parquet sinks).

This is the "switch path" for a user of the reference repo: the same
inputs (schema'd JSON), the same derived tables (songs_info, artists,
users, time, songplays, user_level_listen), the same sink layout
(parquet partitioned by year / year,month — transform-data.py:323-327)
— with the reference's defects fixed:

- F1 timestamp UDF (transform-data.py:126-129): Python row UDF with
  local-timezone semantics → built-in ``timestamp_millis`` on a UTC
  session (JVM-side, pushdown-transparent).
- W1 surrogate key (transform-data.py:292-298): ``row_number() over
  (order by "idx")`` orders by a string *literal* → Exchange
  SinglePartition + nondeterministic numbering. Here:
  ``monotonically_increasing_id`` (unique, no shuffle, any scale).
- Credentials `collect()` and S3 mounts (transform-data.py:38-56):
  out of engine scope; paths come in as arguments.
- Serial sinks (transform-data.py:313-327): six independent writes
  run one after another, the cores idle while the driver starts each
  job → all six submitted together, one thread per table, each
  carrying the caller's job group and local properties
  (``write_star_schema``).
- songplays re-derives the time dim (transform-data.py:281-284): the
  join to ``time`` costs a dedup shuffle and a join only to read
  ``year``/``month``, which are functions of the listen's own
  timestamp → ``songplays_fact`` keeps the listens that have one and
  computes both from it.
- user_level_listen re-derives the users dim (transform-data.py:
  152-165): a dedup of ``users`` joined back to the per-user counts,
  only for the names on each user's listens → both counts as windows
  over the listens, one pass, no join.
- songs_info's year partitions written by one task: its dedup shuffle,
  hashed on all five columns, is tiny, so AQE coalesced it into one
  partition and one task wrote every year's file → songs_info is
  hash-partitioned on ``year`` itself (the dedup's one exchange), so
  the year directories are spread over the session's shuffle
  partitions.

Faithfully preserved semantics (deliberate, documented):
- `users` dim dedups on (user_id, first_name, last_name, gender,
  level) — a user who switched level appears twice
  (transform-data.py:135-138).
- `user_level_listen` keeps per-user paid×free counts only for users
  active at BOTH levels (transform-data.py:152-157).
- songplays joins logs to songs/artists on *natural* keys (artist
  name, song title — transform-data.py:281-284), so duplicate titles
  fan out. Kept because output parity matters; at scale prefer
  surrogate-key joins (see pipeline.py).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from big_data_projects_spark.functions.timestamps import (
    CALENDAR_COLS,
    ts_from_epoch_ms,
    with_calendar_cols,
)
from big_data_projects_spark.session import ensure_runtime_conf

# Explicit input schemas — the reference never infers
# (transform-data.py:186-197, 207-226).
SONGS_SCHEMA = T.StructType(
    [
        T.StructField("num_songs", T.IntegerType()),
        T.StructField("artist_id", T.StringType()),
        T.StructField("artist_latitude", T.FloatType()),
        T.StructField("artist_longitude", T.FloatType()),
        T.StructField("artist_location", T.StringType()),
        T.StructField("artist_name", T.StringType()),
        T.StructField("song_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("duration", T.FloatType()),
        T.StructField("year", T.IntegerType()),
    ]
)

LOGS_SCHEMA = T.StructType(
    [
        T.StructField("artist", T.StringType()),
        T.StructField("auth", T.StringType()),
        T.StructField("firstName", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("itemInSession", T.LongType()),
        T.StructField("lastName", T.StringType()),
        T.StructField("length", T.DoubleType()),
        T.StructField("level", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("page", T.StringType()),
        T.StructField("registration", T.DoubleType()),
        T.StructField("sessionId", T.LongType()),
        T.StructField("song", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("ts", T.StringType()),  # ms-epoch as STRING
        T.StructField("userAgent", T.StringType()),
        T.StructField("userId", T.StringType()),
    ]
)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2: schema'd JSON scan (transform-data.py:64-81) — no inference."""
    return spark.read.schema(schema).json(path)


def process_songs(songs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """songs_info + artists dims (transform-data.py:85-108).

    songs_info is hash-partitioned on ``year`` into the session's
    shuffle partitions before the dedup: that hash already clusters
    every duplicate, so it stays the plan's one exchange, and an
    explicit count is one AQE does not coalesce into a single task."""
    n = int(songs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    songs_info = (
        songs.selectExpr("song_id", "title", "artist_id", "year", "duration")
        .repartition(n, "year")
        .dropDuplicates()
    )
    # fillna's rendering: a NaN coordinate becomes 0 as well.
    artists = songs.selectExpr(
        "artist_id",
        "artist_name AS name",
        "artist_location AS location",
        "coalesce(nanvl(artist_latitude, NULL), CAST(0.0D AS FLOAT)) AS latitude",
        "coalesce(nanvl(artist_longitude, NULL), CAST(0.0D AS FLOAT)) AS longitude",
    ).dropDuplicates()
    return songs_info, artists


def storage_info(df: DataFrame) -> dict:
    """C2: storage-level introspection (transform-data.py:247-248).

    The reference's only 'performance verification' is printing
    ``df.storageLevel.useMemory`` for its two cache()d inputs after an
    action materialized them. Same surface here: cache() defaults to
    MEMORY_AND_DISK(_DESER), so a memory-resident relation reports
    useMemory=True once materialized."""
    lvl = df.storageLevel
    return {
        "useMemory": lvl.useMemory,
        "useDisk": lvl.useDisk,
        "deserialized": lvl.deserialized,
        "replication": lvl.replication,
    }


def process_logs(logs: DataFrame) -> DataFrame:
    """Filter to listen events + convert timestamps
    (transform-data.py:112-132): page='NextSong', ms-epoch-string ts →
    timestamp (built-in, UTC), registration double → long."""
    cast = {"registration": "CAST(registration AS BIGINT) AS registration"}
    cols = [cast.get(c, f"`{c}`") for c in logs.columns]
    return logs.where("page = 'NextSong'").selectExpr(
        *cols, f"{ts_from_epoch_ms('ts')} AS ts_converted"
    )


def users_dim(listens: DataFrame) -> DataFrame:
    """users (transform-data.py:135-138): dedup INCLUDING level — a
    level-switching user appears once per level (reference semantics)."""
    return listens.selectExpr(
        "userId AS user_id",
        "firstName AS first_name",
        "lastName AS last_name",
        "gender",
        "level",
    ).dropDuplicates()


def time_dim(listens: DataFrame) -> DataFrame:
    """time (transform-data.py:168-177): calendar breakdown, deduped."""
    t = listens.selectExpr("ts_converted AS start_time")
    return with_calendar_cols(t, "start_time").dropDuplicates()


def user_level_listen(listens: DataFrame) -> DataFrame:
    """Per-user paid×free listen counts (transform-data.py:144-165):
    users with BOTH levels only, empty userId dropped, full_name
    concat, DISTINCT.  The reference inner-joins two filtered
    aggregates and joins the ``users`` dim back for the names.  Here
    both counts are windows over the user's own listens, so every
    listen row carries its name and its user's counts: one pass, no
    dedup of ``users`` and no join, the same rows (a user's names in
    ``users`` are exactly the names on its listens; a null userId
    fails ``!= ''`` as it failed the join)."""
    return (
        listens.where("userId != ''")
        .selectExpr(
            "concat_ws(' ', firstName, lastName) AS full_name",
            "count_if(level = 'paid') OVER (PARTITION BY userId) AS paid_use_count",
            "count_if(level = 'free') OVER (PARTITION BY userId) AS free_use_count",
        )
        .where("paid_use_count > 0 AND free_use_count > 0")
        .distinct()
    )


def songplays_fact(
    listens: DataFrame, time: DataFrame, artists: DataFrame, songs_info: DataFrame
) -> DataFrame:
    """songplays (transform-data.py:276-298): the reference's star join
    on natural keys (ts, artist name, song title), then a scale-safe
    surrogate key (monotonically_increasing_id, not the reference's
    order-by-constant global row_number).

    ``time`` is unused: the join to it is a functional dependency
    (one ``time`` row per distinct non-null ``start_time``, every
    calendar column a function of it), so a listen with a timestamp
    keeps its row and takes ``year``/``month`` from that timestamp;
    one without one is dropped, as the join dropped it.  The two
    natural-key joins stay, fan-out included."""
    # artists and songs_info share lineage (both derive from the songs
    # scan), so qualify everything through explicit aliases.
    l = listens.where("ts_converted IS NOT NULL").alias("l")
    joined = l.join(
        F.broadcast(artists.alias("a")), F.expr("l.artist = a.name")
    ).join(F.broadcast(songs_info.alias("s")), F.expr("l.song = s.title"))
    ts = "l.ts_converted"
    return joined.selectExpr(
        "monotonically_increasing_id() AS num",
        f"{ts} AS start_time",
        "l.userId AS user_id",
        "l.level AS level",
        "s.song_id",
        "s.artist_id",  # the songs-side id, as in the reference output
        "l.sessionId AS session_id",
        "l.location",  # the log event's location, not the artist's
        "l.userAgent AS user_agent",
        f"{CALENDAR_COLS['year'].format(c=ts)} AS year",
        f"{CALENDAR_COLS['month'].format(c=ts)} AS month",
    )


def write_star_schema(out_dir: str, **tables: DataFrame) -> None:
    """S4 sinks (transform-data.py:313-327): overwrite parquet,
    hive-partitioned — songs_info by year; time & songplays by
    (year, month); artists/users unpartitioned.

    The writes are independent, so all of them are submitted at once,
    one thread per table: written one after another, each small job
    chain waits on the driver and the cores idle between jobs.  Each
    thread's target is wrapped in ``inheritable_thread_target``:
    PySpark pins every Python thread to a JVM thread of its own, and a
    bare thread would lose the caller's local properties, job group
    and job tags (its jobs would escape ``measure.jobs_launched``, for
    one).  Once
    every write has ended, the first failed one in table order raises
    here."""
    partitioning = {
        "songs_info": ["year"],
        "time": ["year", "month"],
        "songplays": ["year", "month"],
    }

    def write(name: str, df: DataFrame) -> None:
        writer = df.write.mode("overwrite")
        if name in partitioning:
            writer = writer.partitionBy(*partitioning[name])
        writer.parquet(f"{out_dir}/{name}.parquet")

    if not tables:
        return
    spark = next(iter(tables.values())).sparkSession
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(write), name, df)
            for name, df in tables.items()
        ]
    for future in futures:
        future.result()


def run_reference_etl(
    spark: SparkSession, songs_path: str, logs_path: str, out_dir: str | None = None
) -> dict[str, DataFrame]:
    """The reference notebook, top to bottom (transform-data.py:338-343)."""
    ensure_runtime_conf(spark)
    songs = read_json(spark, songs_path, SONGS_SCHEMA)
    logs = read_json(spark, logs_path, LOGS_SCHEMA)

    songs_info, artists = process_songs(songs)
    listens = process_logs(logs).cache()  # reused by 4 downstream tables
    users = users_dim(listens)
    time = time_dim(listens)
    ull = user_level_listen(listens)
    songplays = songplays_fact(listens, time, artists, songs_info)

    tables = {
        "songs_info": songs_info,
        "artists": artists,
        "users": users,
        "time": time,
        "user_level_listen": ull,
        "songplays": songplays,
    }
    if out_dir:
        write_star_schema(out_dir, **tables)
    return tables
