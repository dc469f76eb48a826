import argparse

import layers
import run
import tracing


def test_python_nodes_counts_python_operators_only():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- FlatMapGroupsInPandas [bucket#8L], <lambda>(user_id#2L)#9, [a#10L]
   +- Sort [bucket#8L ASC NULLS FIRST], false, 0
      +- Exchange hashpartitioning(bucket#8L, 2), ENSURE_REQUIREMENTS
         :  +- ArrowEvalPython [f(x#1)#3], [pythonUDF0#4], 200
         +- *(1) Project [pyfunc_name#2L]
BatchEvalPythonUDTF split_sentences(doc_id#188L, text#189)#194"""
    assert tracing.python_nodes(plan) == 3


def test_python_nodes_counts_only_the_final_adaptive_plan():
    plan = """OverwriteByExpression NoopWrite
+- AdaptiveSparkPlan isFinalPlan=true
   +- == Final Plan ==
      ArrowEvalPython [f(x#1)#3], [pythonUDF0#4], 200
      +- *(1) Project [x#1]
   +- == Initial Plan ==
      ArrowEvalPython [f(x#1)#3], [pythonUDF0#4], 200
      +- Project [x#1]"""
    assert tracing.python_nodes(plan) == 1


def test_coverage_merges_overlaps():
    assert tracing.coverage([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.coverage([]) == 0


def test_self_time_subtracts_child_coverage():
    spans = [
        {"id": 0, "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "start": 3.0, "end": 5.0, "parent": 0},
        {"id": 3, "start": 1.0, "end": 2.0, "parent": 1},
    ]
    st = tracing.self_times(spans)
    assert st == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0}


def test_jobs_are_placed_in_the_enclosing_layer_span():
    spans = [
        {"id": 0, "name": "op", "start": 10.0, "end": 13.0, "op": 7},
        {"id": 1, "name": "plans.build", "start": 10.0, "end": 11.0, "op": 7},
        {"id": 2, "name": "execute", "start": 11.5, "end": 13.0, "op": 7},
        {"id": 3, "name": "ml.fit", "start": 14.0, "end": 15.0, "op": 8},
    ]
    jobs = [{"submitted": t} for t in (10.5, 11.4996, 12.0, 11.3, 14.5, 20.0, None)]
    layers._place_jobs(spans, jobs)
    assert [(j["op"], j["layer"]) for j in jobs] == [
        (7, "plans.build"), (7, "execute"), (7, "execute"), (None, None),
        (8, "ml.fit"), (None, None), (None, None),
    ]


def test_tracer_wraps_and_restores_package_functions():
    from nfl26_bigdatabowl_prediction_spark.sources import io
    from nfl26_bigdatabowl_prediction_spark.plans import relational

    orig = io.table
    t = tracing.Tracer()
    t.install({"sources": [("sources.io", "table")]})
    try:
        assert io.table is not orig
        assert getattr(relational, "table", io.table) is io.table
        assert io.table.__wrapped__ is orig
    finally:
        t.uninstall()
    assert io.table is orig


def test_a_scoped_layer_wraps_only_inside_its_scope():
    from nfl26_bigdatabowl_prediction_spark.ml import seqreg
    from nfl26_bigdatabowl_prediction_spark.plans import features

    orig = features.advanced_features
    t = tracing.Tracer()
    t.install({"ml.features": [("plans.features", "advanced_features")]},
              {"ml.features": "ml"})
    try:
        assert seqreg.advanced_features.__wrapped__ is orig
        assert features.advanced_features is orig
    finally:
        t.uninstall()
    assert seqreg.advanced_features is orig


def test_a_raising_op_is_counted_as_failed():
    args = argparse.Namespace(workload="stream-drain", seed=1, seconds=1, trace=0)
    bench = run.Bench(args, ".", ".")

    def boom():
        raise RuntimeError("boom")

    assert bench.attempt("timed", "q_x", boom) is None
    assert bench.attempt("timed", "q_y", lambda: None) is True
    assert bench.attempted == 2
    assert len(bench.failures) == 1
    assert bench.failures[0]["op"] == "q_x" and "boom" in bench.failures[0]["error"]
