"""Registry/driver-contract invariants: every oracle key has a query, all
names are well-formed, callables have the right arity, and entry() is
wired to a registered query."""

from __future__ import annotations

import importlib.util
import inspect
import sys


def load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.path.insert(0, "/root/repo")
    spec.loader.exec_module(mod)
    return mod


def test_every_oracle_has_a_query():
    mod = load_entry()
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs), set(osql) - set(qs)
    # every driver-registered query carries a SQL oracle (50/50 hash
    # checks — rows-only queries live in the pytest-only tier)
    rows_only = set(qs) - set(osql)
    assert rows_only == set()


def test_driver_registry_is_exactly_50():
    """The driver's correctness harness records at most 50 queries (r01:
    the 51st registered query got no row). Expose exactly 50 so nothing is
    silently dropped."""
    mod = load_entry()
    assert len(mod.queries()) == 50


def test_query_callables_take_spark_and_sfdir():
    mod = load_entry()
    for name, fn in mod.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, f"{name} must take (spark, sf_dir)"


def test_names_are_snake_case_and_unique():
    mod = load_entry()
    names = list(mod.queries())
    assert len(names) == len(set(names))
    for n in names:
        assert n.replace("_", "").isalnum() and n == n.lower(), n


def test_entry_uses_registered_flagship(spark):
    mod = load_entry()
    df = mod.entry(spark)
    assert df.schema.simpleString() == "struct<triangles:bigint>"


def test_rotation_ledger():
    """ROTATIONS.json (round 13, r12 verdict item 1b) is the machine-
    readable rotation ledger: every query it lists as rotated OUT of the
    50-slot driver tier must still be registered and oracled in the
    pytest tier (all_queries(include_extra=True)), every query rotated
    IN must be driver-registered NOW unless a later rotation moved it
    out again, and the committed CORRECTNESS_r{N}.json key-set diffs —
    the driver's own records — must agree with the ledger entry for
    each round, so a future 'dropped query' alarm can be adjudicated by
    reading this file instead of re-litigating prose."""
    import glob
    import json
    import os

    from twitter_social_triangle_mapreduce_spark import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ledger = json.load(open(os.path.join(repo, "ROTATIONS.json")))
    declared = set(registry.all_queries())
    full = set(registry.all_queries(include_extra=True))
    later_out: set[str] = set()
    for rot in reversed(ledger["rotations"]):
        for q in rot["out"]:
            assert q in full, f"rotated-out query {q} was DELETED"
            assert q not in declared or q in later_out, (
                f"{q} is ledgered as rotated out but still driver-tier"
            )
        for q in rot["in"]:
            assert q in full, f"rotated-in query {q} missing entirely"
            if q not in later_out:
                assert q in declared, (
                    f"{q} is ledgered as rotated in but not driver-tier"
                )
        later_out |= set(rot["out"])
    # the ledger matches the driver's own committed records
    prev: set[str] | None = None
    by_round = {r["round"]: r for r in ledger["rotations"]}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r??.json"))):
        n = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        cur = set(json.load(open(path)).keys())
        if prev is not None:
            out, inn = prev - cur, cur - prev
            rot = by_round.get(n)
            if out or inn:
                assert rot is not None, f"round {n} diff not ledgered"
                assert set(rot["out"]) == out and set(rot["in"]) == inn
            else:
                assert rot is None, f"round {n} ledgered but no diff"
        prev = cur
