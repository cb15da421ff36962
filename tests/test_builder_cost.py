"""Builder cost: py4j round trips spent only *building* a plan, no
action run (``measure.round_trips``).

The dedup operators' wide projections on sf0.001 ``documents``: each
aggregate or projection goes to Catalyst as SQL expression text.  Built
as Column chains (one per bit, permutation or band) the same plans cost
8,020 (simhash), 4,604 (minhash_signatures) and 3,002 / 3,834
(band_buckets, xxh64 / md5) round trips; as SQL text 438, 292 and 40.
simhash's votes as one 60-wide aggregate behind a round-robin spread
cost 438; as two narrow aggregates after one exchange on the doc id,
158.

The olap path: the reference ETL's six tables cost 1,260 round trips
as Column chains (with the ``time`` and ``users`` re-derivations) and
171 as SQL text; ``q_tpch_q1``'s decimal sums and averages 461 and 165.

Each bound sits between the two, so building them as Column chains
again fails here.
"""

from __future__ import annotations

import json

import pytest

from big_data_projects_spark.data import load_table
from big_data_projects_spark.measure import round_trips
from big_data_projects_spark.operators.dedup import (
    band_buckets,
    minhash_signatures,
    shingles,
    simhash,
)
from big_data_projects_spark.queries import REGISTRY
from big_data_projects_spark.reference_etl import run_reference_etl

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents")


@pytest.fixture(scope="module")
def shingled(docs):
    return shingles(docs, "doc_id", "text", 3, hasher="xxh64")


@pytest.fixture(scope="module")
def sig(docs, shingled):
    return minhash_signatures(docs, shingle_df=shingled)


@pytest.mark.parametrize(
    "operator, bound",
    [
        ("simhash", 300),
        ("minhash_signatures", 600),
        ("band_buckets_xxh64", 150),
        ("band_buckets_md5", 150),
    ],
)
def test_wide_projection_builder_round_trips(docs, shingled, sig, operator, bound):
    builders = {
        "simhash": lambda: simhash(docs),
        "minhash_signatures": lambda: minhash_signatures(
            docs, shingle_df=shingled
        ),
        "band_buckets_xxh64": lambda: band_buckets(sig, hasher="xxh64"),
        "band_buckets_md5": lambda: band_buckets(sig, hasher="md5"),
    }
    _, n = round_trips(builders[operator])
    assert 0 < n <= bound, f"{operator}: {n} py4j round trips (bound {bound})"


def test_reference_etl_builder_round_trips(spark, tmp_path):
    # Building reads nothing (both schemas are given), so one row each
    # is enough.
    songs, logs = str(tmp_path / "songs.json"), str(tmp_path / "logs.json")
    with open(songs, "w") as f:
        json.dump({"song_id": "S1", "title": "T", "artist_name": "A", "year": 2000}, f)
    with open(logs, "w") as f:
        json.dump({"page": "NextSong", "ts": "1542241826796", "userId": "1"}, f)
    try:
        tables, n = round_trips(lambda: run_reference_etl(spark, songs, logs))
        assert len(tables) == 6
        assert 0 < n <= 600, f"reference ETL: {n} py4j round trips (bound 600)"
    finally:
        spark.catalog.clearCache()


def test_tpch_q1_builder_round_trips(spark):
    load_table(spark, SF_SMALL, "lineitem")  # the schema memo, warm
    _, n = round_trips(lambda: REGISTRY["q_tpch_q1"].raw(spark, SF_SMALL))
    assert 0 < n <= 300, f"q_tpch_q1: {n} py4j round trips (bound 300)"
