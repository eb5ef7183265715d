"""The driver checks a bounded prefix of queries_dict(); the ordering
rule must guarantee that prefix always covers queries whose definition
changed since their last driver-green check (VERDICT r2 integrity
finding: a hand-curated priority list let two edited oracles rotate
out of the window). These tests pin the mechanism."""

from data_ingestion_task_spark.plans import registry


def test_ledger_names_all_registered():
    registry.load_all()
    for name in registry.checked_ledger():
        assert name in registry.REGISTRY


def test_stale_ledger_entry_does_not_brick_ordering(monkeypatch):
    """A renamed/deleted query's leftover ledger entry cannot affect
    the ordering invariant, so it must not take down queries_dict() in
    a driver run (ADVICE r3) — it only warns. The committed ledger is
    still held stale-free by test_ledger_names_all_registered."""
    registry.load_all()
    ledger = dict(registry.checked_ledger())
    ledger["a_query_that_no_longer_exists"] = "deadbeef"
    monkeypatch.setattr(registry, "checked_ledger", lambda: ledger)
    names = list(registry.queries_dict())
    assert "a_query_that_no_longer_exists" not in names
    assert len(names) == len(registry.REGISTRY)


def test_uncertified_sort_before_certified():
    names = list(registry.queries_dict())
    ledger = registry.checked_ledger()
    certified_seen = False
    for n in names:
        is_certified = ledger.get(n) == registry.REGISTRY[n].content_hash
        if certified_seen:
            assert is_certified, (
                f"uncertified query {n!r} sorted after a certified one — "
                "the driver's bounded check prefix could miss it"
            )
        certified_seen = certified_seen or is_certified


def test_content_hash_tracks_oracle_edits():
    """Any oracle edit must flip the hash (that's what re-enters the
    check window)."""
    registry.load_all()
    spec = next(iter(registry.REGISTRY.values()))
    fn = spec.fn.__wrapped__
    h1 = registry._content_hash(fn, spec.oracle)
    h2 = registry._content_hash(fn, (spec.oracle or "") + " -- edited")
    assert h1 == spec.content_hash
    assert h1 != h2


def test_every_query_is_either_certified_or_in_prefix_head():
    """Equivalent restatement of the invariant as a set property:
    prefix of length len(uncertified) == set(uncertified)."""
    names = list(registry.queries_dict())
    uncert = registry.uncertified_names()
    assert set(names[: len(uncert)]) == set(uncert)


def test_uncertified_queries_fit_the_check_window():
    """The external correctness check covers only the first
    CHECK_WINDOW queries of queries_dict(); more uncertified ones than
    that and an edited query escapes the check."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "round_start.py"
    )
    spec = importlib.util.spec_from_file_location("round_start", path)
    round_start = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(round_start)
    uncert = registry.uncertified_names()
    assert len(uncert) <= round_start.CHECK_WINDOW, (
        f"{len(uncert)} uncertified queries exceed the "
        f"{round_start.CHECK_WINDOW}-query check window"
    )
