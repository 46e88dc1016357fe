"""The slot → family table covers every registered slot exactly once, and
the gated ``explore`` pass runs one slot of every family."""

from perfbench.workloads import FAMILIES, FAMILY_SLOTS, SLOT_FAMILIES, WORKLOADS


def test_slot_table_matches_registry():
    from pyspark_dist_explore_spark.plans.queries import REGISTRY

    assert set(SLOT_FAMILIES) == set(REGISTRY)
    assert {fam for _, fam in SLOT_FAMILIES.values()} == set(FAMILIES)


def test_explore_runs_one_slot_per_family():
    assert sorted(SLOT_FAMILIES[s][1] for s in FAMILY_SLOTS) == sorted(FAMILIES)


def test_full_slot_workloads_cover_every_slot_once():
    full = [s for w in ("explore_slots", "curate", "vector_serve") for s in WORKLOADS[w].slot_names]
    assert sorted(full) == sorted(SLOT_FAMILIES)
