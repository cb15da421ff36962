"""Builder cost of the dedup operators' wide projections: py4j round
trips spent only *building* simhash, minhash_signatures and
band_buckets on sf0.001 ``documents`` — no action runs.

Each aggregate or projection goes to Catalyst as SQL expression text.
Built as Column chains (one per bit, permutation or band) the same
plans cost 8,020 (simhash), 4,604 (minhash_signatures) and 3,002 /
3,834 (band_buckets, xxh64 / md5) round trips; as SQL text 438, 292
and 40.  The bounds sit between the two, so building the votes,
permutation minima or band structs as Column chains again fails here.
"""

from __future__ import annotations

import threading

import py4j.clientserver
import pytest

from big_data_projects_spark.data import load_table
from big_data_projects_spark.operators.dedup import (
    band_buckets,
    minhash_signatures,
    shingles,
    simhash,
)

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


def round_trips(monkeypatch, build) -> int:
    """Commands this thread sends to the JVM while ``build()`` runs.

    py4j's finalizer thread releases garbage-collected JavaObjects on
    its own schedule; those commands are not the builder's, so only
    the calling thread's are counted.
    """
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    me = threading.get_ident()
    calls = 0

    def counting(self, command):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(conn, "send_command", counting)
        build()
    return calls


@pytest.mark.parametrize(
    "operator, bound",
    [
        ("simhash", 1000),
        ("minhash_signatures", 600),
        ("band_buckets_xxh64", 150),
        ("band_buckets_md5", 150),
    ],
)
def test_wide_projection_builder_round_trips(
    monkeypatch, docs, shingled, sig, operator, bound
):
    builders = {
        "simhash": lambda: simhash(docs),
        "minhash_signatures": lambda: minhash_signatures(
            docs, shingle_df=shingled
        ),
        "band_buckets_xxh64": lambda: band_buckets(sig, hasher="xxh64"),
        "band_buckets_md5": lambda: band_buckets(sig, hasher="md5"),
    }
    n = round_trips(monkeypatch, builders[operator])
    assert 0 < n <= bound, f"{operator}: {n} py4j round trips (bound {bound})"
