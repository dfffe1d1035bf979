import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azuredataengineering_deeplearning_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="ades-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def _reference_components(edges) -> dict:
    """Connected components of an (a, b) edge list → {node: smallest
    node of its component}. A flood fill over an adjacency map, kept
    apart from the engine's driver union-find so that it checks it."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out: dict = {}
    for start in adj:
        if start in out:
            continue
        seen, todo = {start}, [start]
        while todo:
            for y in adj[todo.pop()] - seen:
                seen.add(y)
                todo.append(y)
        out.update(dict.fromkeys(seen, min(seen)))
    return out


@pytest.fixture(scope="session")
def components():
    """The reference components function (see _reference_components)."""
    return _reference_components


@pytest.fixture
def resolve(spark, monkeypatch):
    """``resolve(edges, bound=None)`` → {node: cluster_id} from
    ``dedup.resolve_clusters`` over the edge list, with
    ``dedup._DRIVER_EDGES`` set to ``bound`` (None: the engine default).
    A bound below the edge count forces distributed label rounds."""
    from azuredataengineering_deeplearning_spark.operators import dedup as DD

    default = DD._DRIVER_EDGES

    def run(edges, bound=None):
        monkeypatch.setattr(DD, "_DRIVER_EDGES", default if bound is None else bound)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        return {r.node: r.cluster_id for r in DD.resolve_clusters(pairs).collect()}

    return run


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn's result, number of Spark jobs fn
    launched), counted by a status-tracker job group."""

    def run(fn):
        sc = spark.sparkContext
        group = f"job-guard-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def spy_rounds(monkeypatch):
    """Count ``dedup.resolve_clusters``'s distributed label rounds and
    record the size of every cluster graph it hands to the driver
    union-find: the fixture value is {"rounds": int, "driver_rows":
    [int, ...]}, updated as resolve_clusters runs."""
    from azuredataengineering_deeplearning_spark.operators import dedup as DD

    seen = {"rounds": 0, "driver_rows": []}
    label_round, union_find = DD._label_round, DD._union_find

    def counting_round(edges, labels):
        seen["rounds"] += 1
        return label_round(edges, labels)

    def sizing_union_find(rows):
        seen["driver_rows"].append(len(rows))
        return union_find(rows)

    monkeypatch.setattr(DD, "_label_round", counting_round)
    monkeypatch.setattr(DD, "_union_find", sizing_union_find)
    return seen
