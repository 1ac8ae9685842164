from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bop_consus_importing_rdf_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def triples_df(spark, rows):
    """rows: (subj, pred, obj_value, obj_kind, obj_lang, obj_datatype)."""
    return spark.createDataFrame(
        [tuple(r) + (None,) * (6 - len(r)) for r in rows],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string, obj_datatype string",
    )


def executed_plan_nodes(spark, run):
    """``run()``'s result and the ``(name, desc)`` of every physical-plan
    node of every SQL execution it starts (read from the SQL status
    store)."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        sc.listenerBus().waitUntilEmpty()
        it = store.executionsList().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next().executionId())
        return ids

    before = execution_ids()
    result = run()
    nodes = []
    for eid in execution_ids() - before:
        it = store.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            n = it.next()
            nodes.append((n.name(), n.desc()))
    return result, nodes
