"""Registry / rotation invariants: the driver verifies the FIRST
``_WINDOW`` entries of ``queries()`` each round, so the ordering and
the spec-hash ledger (QUERY_SPECS.json) are correctness
infrastructure — a stale ledger silently rotates an EDITED query out
of the window with only outdated verification evidence behind it.
"""

from __future__ import annotations

from datafusion_functions_variant_spark import queries as Q


def test_spec_ledger_fresh_for_upcoming_window():
    """Every query in the upcoming driver window must have a ledger
    entry matching its CURRENT spec hash. If this fails you edited a
    window query's builder or oracle — run
    ``python -m datafusion_functions_variant_spark.queries`` to
    re-stamp the ledger before committing."""
    reg = Q.load_all_queries()
    ledger = Q._load_spec_ledger()
    stale = [
        name
        for name in list(reg)[: Q._WINDOW]
        if ledger.get(name, {}).get("hash") != Q.spec_hash(reg[name])
    ]
    assert not stale, (
        f"stale QUERY_SPECS.json entries for window queries: {stale}; "
        "run `python -m datafusion_functions_variant_spark.queries`"
    )


def test_edited_spec_invalidates_verification():
    """A green CORRECTNESS row must stop counting as verification once
    the query's spec hash diverges from the ledger entry."""
    reg = Q.load_all_queries()
    green = Q._driver_green_rounds()
    ledger = Q._load_spec_ledger()
    # pick any green query with a ledger entry
    cands = [n for n in green if n in ledger and n in reg]
    assert cands, "no ledgered green queries to exercise"
    name = cands[0]
    verified = Q._driver_verified_names()
    entry = dict(ledger[name])
    try:
        ledger[name] = {"hash": "0" * 32, "round": entry.get("round", 0)}
        # monkey-patch the loader to serve the tampered ledger
        orig = Q._load_spec_ledger
        Q._load_spec_ledger = lambda: ledger
        assert name not in Q._driver_verified_names()
    finally:
        Q._load_spec_ledger = orig
        ledger[name] = entry
    # untampered state unchanged
    assert (name in Q._driver_verified_names()) == (name in verified)


def test_reverify_sample_rotates_and_is_deterministic():
    verified = {f"q{i}" for i in range(20)}
    s1 = Q._reverify_sample(verified)
    s2 = Q._reverify_sample(verified)
    assert s1 == s2 and len(s1) == Q._REVERIFY_SAMPLE
    assert s1 <= verified
    assert Q._reverify_sample(set()) == set()


def test_unverified_queries_fill_window_first():
    """Registry order: no verified query may sit in the window while
    an unverified one waits behind it (the sweep invariant)."""
    reg = Q.load_all_queries()
    verified = Q._driver_verified_names() - Q._reverify_sample(
        Q._driver_verified_names()
    )
    names = list(reg)
    seen_verified = False
    for n in names:
        if n in verified:
            seen_verified = True
        elif seen_verified:
            raise AssertionError(f"unverified query {n!r} behind verified ones")


def test_never_verified_queries_all_front_the_window():
    """A never-driver-verified (or stale-spec) query must NEVER be
    displaced from the verification window by the rotating re-verify
    sample — tier 0 strictly outranks tier 1 (regression: round 6's
    new query landed at position _WINDOW+1 behind 8 sample entries)."""
    reg = Q.load_all_queries()
    window = set(list(reg)[: Q._WINDOW])
    verified = Q._driver_verified_names()
    unverified = [n for n in reg if n not in verified]
    overflow = [n for n in unverified if n not in window]
    # only legitimate overflow: more unverified queries than slots
    assert len(unverified) <= Q._WINDOW or not window - set(unverified), (
        f"re-verify sample displaced never-verified queries: {overflow}"
    )
    if len(unverified) <= Q._WINDOW:
        assert not overflow, (
            f"never-verified queries outside the window: {overflow}"
        )


def test_window_capacity_not_exceeded_by_new_queries():
    """Hard cap for in-round additions: every never-verified query
    must fit the driver window in ONE round, or the cumulative-sweep
    guarantee (every query driver-hashed at least once) silently
    breaks. If this fails, STOP adding registry queries this round."""
    reg = Q.load_all_queries()
    verified = Q._driver_verified_names()
    unverified = [n for n in reg if n not in verified]
    assert len(unverified) <= Q._WINDOW, (
        f"{len(unverified)} never-verified queries > window "
        f"{Q._WINDOW}: the overflow would miss this round's sweep"
    )


def test_tier2_order_rotates_with_round(monkeypatch):
    """The actual re-verification property: consecutive simulated
    rounds' driver windows must overlap by at most tier0 + the
    re-verify sample — i.e. every tier-2 slot in the window must be up
    for grabs each round, not frozen to the same verified names
    (round-6 regression: rank() ordered tier 2 too, pinning the ~50
    priority names at the tier-2 front, so 42/50 window slots were
    measured identical across simulated rounds 7-9)."""
    windows = []
    tier0_sizes = []
    for rnd in (7, 8, 9):
        monkeypatch.setattr(Q, "_current_round", lambda r=rnd: r)
        reg = Q.load_all_queries()
        verified = Q._driver_verified_names()
        window = list(reg)[: Q._WINDOW]
        windows.append(set(window))
        tier0_sizes.append(sum(1 for n in window if n not in verified))
    for (a, ta), (b, tb) in zip(
        zip(windows, tier0_sizes), zip(windows[1:], tier0_sizes[1:])
    ):
        allowed = max(ta, tb) + Q._REVERIFY_SAMPLE
        overlap = len(a & b)
        # tier-2 slots are md5(round:name)-shuffled; with ~180 verified
        # names competing for the free slots, chance collisions exist
        # but must stay far below a frozen front. Allow a small slack.
        slack = max(4, (Q._WINDOW - allowed) // 3)
        assert overlap <= allowed + slack, (
            f"window overlap {overlap} > tier0+sample {allowed} (+{slack} "
            "slack): tier-2 rotation is not rotating"
        )
