from tracing import Tracer, covered


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0.0
    assert covered([(0.0, 1.0), (0.5, 2.0), (3.0, 3.5)]) == 2.5
    assert covered([(1.0, 2.0), (1.2, 1.5)]) == 1.0


def test_self_time_subtracts_children_and_keeps_hierarchy():
    t = Tracer("r1")
    with t.span("run"):
        with t.span("job"):
            with t.span("pipeline.commit"):
                pass
    names = {s["name"]: s for s in t.spans}
    assert names["job"]["parent"] == names["run"]["id"]
    assert names["pipeline.commit"]["parent"] == names["job"]["id"]
    assert all(s["run_id"] == "r1" and s["end"] >= s["start"] for s in t.spans)
    # synthetic intervals: run [0,10] with children job [1,4] and check [3,6]
    t.spans = [
        {"id": 0, "name": "run", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "job", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "check", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    st = t.self_times()
    assert st == {"run": 5.0, "job": 3.0, "check": 3.0}
