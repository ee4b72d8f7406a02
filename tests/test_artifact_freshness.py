"""Committed-evidence freshness gates (VERDICT r5 #1).

Rounds 4 and 5 both shipped doc/evidence artifacts that silently
trailed the registry (COVERAGE.md stuck at 280 while the registry held
321; PARITY_r05.json missing the last 7 operators).  These tests make
that drift a same-commit pytest failure, exactly the way
``tests/test_registry_order.py`` freezes CONTRACT_ORDER:

- COVERAGE.md's stated count must equal ``len(load_all())`` and every
  registered query must appear in it (and nothing unregistered);
- the LATEST ``PARITY_r*.json`` key-set must equal the registry
  key-set — adding a query without re-running
  ``python -m scripts.gen_parity`` fails here;
- PLANS.md must contain exactly the sections ``scripts/gen_plans.py``
  would generate, and each of those names must still be registered;
- bench.py's HEADLINE / SCALING_EXTRA sets must be registered names
  (a renamed query would otherwise silently drop out of the bench).

These are pure-python file checks — no SparkSession — so they run in
the default lane at negligible cost.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from batchprocessor_spark.plans.registry import load_all

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def registry_names() -> set[str]:
    return set(load_all())


def test_coverage_md_tracks_registry(registry_names):
    text = (REPO / "COVERAGE.md").read_text()
    m = re.search(r"^(\d+) queries registered", text, re.M)
    assert m, "COVERAGE.md lost its '<N> queries registered' header"
    assert int(m.group(1)) == len(registry_names), (
        f"COVERAGE.md says {m.group(1)} queries but the registry has "
        f"{len(registry_names)} — rerun "
        "`PYTHONPATH=. python scripts/gen_coverage.py > COVERAGE.md`"
    )
    listed = set(re.findall(r"^\| `(q_\w+)` \|", text, re.M))
    assert listed == registry_names, (
        f"COVERAGE.md inventory drifted: missing={sorted(registry_names - listed)[:5]} "
        f"stale={sorted(listed - registry_names)[:5]} — regenerate it"
    )


def test_latest_parity_artifact_covers_registry(registry_names):
    # Sort by the PARSED round number, not the raw name — lexical
    # order would rank a future PARITY_r100.json before r99 and the
    # gate would silently validate the wrong artifact (ADVICE r6).
    parity_files = sorted(
        REPO.glob("PARITY_r*.json"),
        key=lambda p: int(re.fullmatch(r"PARITY_r(\d+)", p.stem).group(1)),
    )
    assert parity_files, "no PARITY_r*.json committed"
    latest = parity_files[-1]
    data = json.loads(latest.read_text())
    keys = set(data["queries"])
    assert keys == registry_names, (
        f"{latest.name} key-set drifted from the registry: "
        f"missing={sorted(registry_names - keys)[:10]} "
        f"stale={sorted(keys - registry_names)[:10]} — rerun "
        f"`python -m scripts.gen_parity --round <N>` (use --resume "
        "--only for just the new queries)"
    )
    # and it must actually be green evidence, not a stale red record
    red = [
        (name, sf)
        for name, per_sf in data["queries"].items()
        for sf, rec in per_sf.items()
        if not (rec.get("rows_match") and rec.get("err") is None)
    ]
    assert not red, f"latest parity artifact has red records: {red[:10]}"


def test_plans_md_matches_generator(registry_names):
    from scripts.gen_plans import HEADLINE as PLAN_SET

    text = (REPO / "PLANS.md").read_text()
    sections = set(re.findall(r"^## (q_\w+)", text, re.M))
    assert sections == set(PLAN_SET), (
        f"PLANS.md sections drifted from scripts/gen_plans.py HEADLINE: "
        f"missing={sorted(set(PLAN_SET) - sections)} "
        f"stale={sorted(sections - set(PLAN_SET))} — rerun "
        "`PYTHONPATH=. python scripts/gen_plans.py > PLANS.md`"
    )
    assert set(PLAN_SET) <= registry_names


def test_bench_sets_are_registered(registry_names):
    import bench

    assert set(bench.HEADLINE) <= registry_names
    assert set(bench.SCALING_EXTRA) <= registry_names
    assert bench.SUPERLINEAR_EXEMPT <= set(bench.SCALING_EXTRA) | set(
        bench.HEADLINE
    )


def test_sf1_parity_artifact(registry_names):
    """PARITY_SF1.json (VERDICT r6 #3) must cover exactly bench.py's
    HEADLINE set and be all green — the sf1 scale point is
    hash-verified correctness evidence, not just timings. A headline
    change without an sf1 re-run fails here."""
    import bench

    data = json.loads((REPO / "PARITY_SF1.json").read_text())
    keys = set(data["queries"])
    # Superset contract: the headline set is the minimum; round 7
    # extended sf1 parity to the heavy SCALING_EXTRA queries too, and
    # every recorded key must be a live registry name.
    assert keys >= set(bench.HEADLINE), (
        f"PARITY_SF1.json lost headline coverage: "
        f"missing={sorted(set(bench.HEADLINE) - keys)} — rerun "
        "`python -m scripts.gen_parity --round <N> --sf sf1 "
        "--sf-dir sf1=.testdata_big/sf1 --out PARITY_SF1.json "
        "--only <headline csv>`"
    )
    assert keys <= registry_names, (
        f"PARITY_SF1.json has stale keys: {sorted(keys - registry_names)[:5]}"
    )
    red = [
        (name, sf)
        for name, per_sf in data["queries"].items()
        for sf, rec in per_sf.items()
        if not (
            rec.get("rows_match")
            and rec.get("schema_match")
            and rec.get("hash_match")
            and rec.get("err") is None
        )
    ]
    assert not red, f"PARITY_SF1.json has red records: {red}"


def test_queries_md_tracks_registry(registry_names):
    """QUERIES.md (VERDICT r6 #8: the describe() cards as a browsable
    committed artifact) must list exactly the registered queries with
    the registry's count in its header — same regen-or-fail contract
    as COVERAGE.md."""
    text = (REPO / "QUERIES.md").read_text()
    m = re.search(r"^(\d+) registered queries", text, re.M)
    assert m, "QUERIES.md lost its '<N> registered queries' header"
    assert int(m.group(1)) == len(registry_names), (
        f"QUERIES.md says {m.group(1)} queries but the registry has "
        f"{len(registry_names)} — rerun "
        "`PYTHONPATH=. python scripts/gen_queries_md.py > QUERIES.md`"
    )
    listed = set(re.findall(r"^### `(q_\w+)`", text, re.M))
    assert listed == registry_names, (
        f"QUERIES.md inventory drifted: missing={sorted(registry_names - listed)[:5]} "
        f"stale={sorted(listed - registry_names)[:5]} — regenerate it"
    )
