"""End-to-end graph materialization + constraint invariants (K3/K4/D3).

Runs build_movie_graph on fixture-shaped nested docs and asserts the
uniqueness constraints mirrored from kg_scripts/1_constraints.cypher —
including the AVAILABLE_ON composite key (relationship_id, type) and
the ACTED_IN relationship_id dedup.
"""

from __future__ import annotations

import pytest

from movie_etl_spark.operators.clean import clean_movie_details
from movie_etl_spark.operators.upsert import assert_unique
from movie_etl_spark.plans.graph import build_movie_graph
from movie_etl_spark.schemas import RAW_MOVIE_DETAILS
from tests.conftest import jobs_in_group


@pytest.fixture(scope="module")
def clean_movies(spark):
    # two movies sharing a person; one person with two characters in one
    # movie (the ACTED_IN dedup case); one unknown crew department
    docs = [
        {
            "id": 1,
            "title": "A",
            "overview": "first",
            "release_date": "2020-01-01",
            "popularity": 1.0,
            "budget": 10,
            "revenue": 20,
            "runtime": 100,
            "belongs_to_collection": {"id": 7, "name": "C"},
            "genres": [{"id": 878, "name": "SF"}, {"id": 28, "name": "Action"}],
            "spoken_languages": [{"iso_639_1": "en", "english_name": "English"}],
            "production_countries": [{"iso_3166_1": "US", "name": "US"}],
            "credits": {
                "cast": [
                    {"id": 9, "name": "P9", "gender": 2, "character": "Hero", "order": 0},
                    {"id": 9, "name": "P9", "gender": 2, "character": "Alt", "order": 1},
                    {"id": 8, "name": "P8", "gender": 1, "character": "Cop", "order": 2},
                ],
                "crew": [
                    {"id": 5, "name": "P5", "gender": 1, "job": "Director",
                     "department": "Directing"},
                    {"id": 6, "name": "P6", "gender": 0, "job": "Mystery",
                     "department": "NotADepartment"},
                ],
            },
            "watch_providers": {
                "US": {
                    "buy": [{"provider_id": 2, "provider_name": "Apple TV"}],
                    "rent": [],
                    "flatrate": [{"provider_id": 8, "provider_name": "Netflix"}],
                }
            },
        },
        {
            "id": 2,
            "title": "B",
            "overview": "",
            "release_date": "2021-01-01",
            "popularity": 0.0,
            "budget": 0,
            "revenue": 0,
            "runtime": 90,
            "genres": [{"id": 878, "name": "SF"}],
            "spoken_languages": [],
            "production_countries": [],
            "credits": {
                "cast": [
                    {"id": 9, "name": "P9", "gender": 2, "character": "Lead", "order": 0}
                ],
                "crew": [],
            },
            "watch_providers": {},
        },
    ]
    raw = spark.createDataFrame(
        [{f.name: d.get(f.name) for f in RAW_MOVIE_DETAILS.fields} for d in docs],
        RAW_MOVIE_DETAILS,
    )
    return clean_movie_details(raw)


@pytest.fixture(scope="module")
def graph(clean_movies):
    return build_movie_graph(clean_movies)


def test_node_uniqueness(graph):
    assert_unique(graph["nodes/Movie"], ["movie_id"])
    assert_unique(graph["nodes/Person"], ["person_id"])
    assert_unique(graph["nodes/Genre"], ["genre_id"])
    assert graph["nodes/Movie"].count() == 2
    # person 9 appears in both movies but is one node
    assert graph["nodes/Person"].count() == 4


def test_acted_in_dedup_and_uniqueness(graph):
    acted = graph["edges/ACTED_IN"].collect()
    by_id = {}
    for r in acted:
        assert r["relationship_id"] not in by_id
        by_id[r["relationship_id"]] = r["role"]
    # one-movie double character collapsed; lowest role survives
    assert by_id["1-9"] == "Alt"
    assert by_id["2-9"] == "Lead"
    assert by_id["1-8"] == "Cop"


def test_crew_edges_drop_unknown_department(graph):
    crew = graph["edges/CREW"].collect()
    assert {r["rel_type"] for r in crew} == {"DIRECTED_BY"}
    assert_unique(graph["edges/CREW"], ["rel_type", "relationship_id"])


def test_available_on_composite_key(graph):
    rows = graph["edges/AVAILABLE_ON"].collect()
    # same relationship_id may repeat across types, never within one
    keys = [(r["relationship_id"], r["type"]) for r in rows]
    assert len(keys) == len(set(keys))
    types = {r["type"] for r in rows}
    assert "subscription" in types and "flatrate" not in types


def test_sentinel_nulls_on_movie_nodes(graph):
    b = {r["movie_id"]: r for r in graph["nodes/Movie"].collect()}[2]
    assert b["overview"] is None  # "" -> NULL
    assert b["popularity"] is None and b["budget"] is None  # 0 -> NULL
    assert b["runtime"] == 90


def test_person_gender_decoded(graph):
    genders = {r["person_id"]: r["gender"] for r in graph["nodes/Person"].collect()}
    assert genders[9] == "Male" and genders[5] == "Female"
    assert genders[6] == "Not specified"


def test_rollback_movie_cascades_all_tables(graph):
    """K7 multi-table compensation (utils/etl.py:87-120): removing one
    movie drops its node and every edge headed by it, leaves the other
    movie's subgraph intact, and preserves referential integrity."""
    from movie_etl_spark.operators.upsert import rollback_movie

    rolled = rollback_movie(graph, [1])

    assert {r["movie_id"] for r in rolled["nodes/Movie"].collect()} == {2}
    # every edge table headed by movies lost movie 1's edges...
    for name, df in rolled.items():
        if name.startswith("edges/"):
            heads = {r["head_id"] for r in df.collect()}
            assert 1 not in heads, name
    # ...but movie 2's edges survive
    assert {r["tail_id"] for r in rolled["edges/ACTED_IN"].collect()} == {9}
    assert {r["head_id"] for r in rolled["edges/HAS_GENRE"].collect()} == {2}
    # dimension + person nodes are NOT cascaded (reference semantics)
    assert rolled["nodes/Person"].count() == graph["nodes/Person"].count()
    assert rolled["nodes/Genre"].count() == graph["nodes/Genre"].count()
    # referential integrity after rollback: every edge head still exists
    movies_left = {r["movie_id"] for r in rolled["nodes/Movie"].collect()}
    for name in ("edges/HAS_GENRE", "edges/ACTED_IN", "edges/PART_OF",
                 "edges/AVAILABLE_ON", "edges/CREW"):
        for r in rolled[name].collect():
            assert r["head_id"] in movies_left, name
    # idempotent: rolling back the same id again changes nothing
    again = rollback_movie(rolled, [1])
    assert again["nodes/Movie"].count() == 1
    assert again["edges/ACTED_IN"].count() == rolled["edges/ACTED_IN"].count()


def test_shared_node_checkpoints_stay_memory_and_disk(
    spark, clean_movies, monkeypatch
):
    """The build checkpoints the shared Movie and Person tables at
    MEMORY_AND_DISK — pinned by spying the level handed to
    localCheckpoint."""
    # Spark 4: classic sessions instantiate the CONCRETE subclass in
    # pyspark.sql.classic.dataframe, whose localCheckpoint overrides the
    # abstract pyspark.sql.DataFrame one — patch where lookup resolves
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.storagelevel import StorageLevel

    levels: list = []
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True, storageLevel=None):
        levels.append(storageLevel)
        return orig(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    build_movie_graph(clean_movies)
    assert levels == [
        StorageLevel.MEMORY_AND_DISK,
        StorageLevel.MEMORY_AND_DISK,
    ]


def test_acted_in_edge_build_hashes_the_shared_nodes(
    spark, clean_movies, monkeypatch
):
    """The build hash-builds the shared node tables into ACTED_IN —
    pinned by spying the hash_build_nodes flag handed to build_edges."""
    from movie_etl_spark.plans import graph as graph_mod

    hash_built: dict = {}
    orig = graph_mod.build_edges

    def spy(*a, **kw):
        hash_built[a[5]] = bool(kw.get("hash_build_nodes", False))
        return orig(*a, **kw)

    monkeypatch.setattr(graph_mod, "build_edges", spy)
    graph_mod.build_movie_graph(clean_movies)
    assert hash_built["ACTED_IN"] is True


def test_shared_node_checkpoints_inherit_the_job_group(spark, clean_movies):
    """The two shared-node checkpoints run on a thread pool; their jobs
    must carry the caller's job group like every other job of the build."""
    grouped, ungrouped = jobs_in_group(
        spark, "g2-shared-nodes",
        lambda: build_movie_graph(clean_movies),
    )
    assert len(grouped) >= 2
    assert ungrouped == set()
