"""Transitive-closure operator vs the plain-Python fixture closure
(distance semantics kg/endpoints.py:481-487)."""

from conftest import jobs_started
from tabular_data_semantics_py_spark.operators.closure import closure_to_map


def test_closure_matches_python(pipeline, corpus):
    spark_map = closure_to_map(pipeline.stages["closure"])
    py_map = corpus.closure()
    py_map = {k: v for k, v in py_map.items() if v}  # drop roots w/o ancestors
    assert spark_map == py_map


def test_equivalence_depth_zero(pipeline):
    clo = {
        (r.class_uri, r.ancestor_uri): r.depth
        for r in pipeline.stages["closure"].collect()
    }
    ns = "http://tds.example.org/ontology/"
    assert clo[(ns + "SoccerClub", ns + "FootballClub")] == 0
    assert clo[(ns + "FootballClub", ns + "SoccerClub")] == 0
    # strict subsumption has depth >= 1
    assert clo[(ns + "BasketballPlayer", ns + "Athlete")] == 1
    assert clo[(ns + "BasketballPlayer", ns + "Person")] == 2


def test_closure_map_starts_no_job(spark, pipeline):
    """On a run with no checkpoint dir the closure stage is the local
    relation build_closure made, so collecting it to the closure map
    runs on the driver and starts no Spark job."""
    assert jobs_started(spark, "closure-map", lambda: closure_to_map(
        pipeline.stages["closure"])) == 0
