"""Transitive-closure operator vs the plain-Python fixture closure
(distance semantics kg/endpoints.py:481-487)."""

import time

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
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k)
            for k in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel")}
    try:
        sc.setJobGroup("closure-map", "closure_to_map")
        closure_to_map(pipeline.stages["closure"])
        # a marker job: the status tracker sees jobs in start order,
        # so once the marker shows, any closure_to_map job shows too
        sc.setJobGroup("closure-map-marker", "marker")
        spark.range(1).collect()
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup("closure-map-marker"):
            assert time.monotonic() < deadline, "marker job never seen"
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup("closure-map") == []
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
