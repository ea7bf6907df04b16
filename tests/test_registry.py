"""The query registry's gate order: ``_PRIORITY`` is a short list
written fresh for each change, and reordering never adds, drops or
renames a registered query."""

import json
import os

import renkodf_spark.queries as q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_priority_list_is_short_unique_and_registered():
    assert len(q._PRIORITY) <= 50
    assert len(set(q._PRIORITY)) == len(q._PRIORITY)
    assert set(q._PRIORITY) <= set(q.REGISTRY)


def test_queries_start_with_priority_list():
    assert list(q.queries())[: len(q._PRIORITY)] == q._PRIORITY


def test_registry_keeps_the_swept_names():
    # the full-registry sweep artifact committed with the r15 round
    with open(os.path.join(ROOT, "SWEEP_r15_sf0.001.json")) as fh:
        swept = json.load(fh)
    assert swept["filter"] is None and swept["registry_size"] == 216
    assert sorted(q.REGISTRY) == sorted(swept["queries"])
    assert set(q.oracle_sql()) == set(q.REGISTRY)
