"""Registry ordering guards and the all-keys plan-analysis smoke gate.

The driver's CORRECTNESS check covers exactly the FIRST 50 keys of
``queries()`` in emission order, so emission order is part of the
contract surface.  The order is derived from the ``CORRECTNESS_r<N>.json``
artifacts in the repo root: a key's evidence round is the round of the
newest artifact that holds it (0 if that entry failed or none holds
it), keys sort by (evidence round, name), and each rows-only key is
emitted directly before its full-hash twin.  These tests assert that
rule — against the real artifacts and against synthetic ones — rather
than any particular window.

``test_every_registered_key_analyzes`` forces Catalyst analysis of every
registered DataFrame at sf0.001 (no execution), so a plan-time failure
in ANY key fails fast and locally.
"""

from __future__ import annotations

import json
import pathlib
import re
import shutil

from hbasemapreduce_spark.registry import (
    CONTRACT_KEYS,
    ROWS_ONLY_TWINS,
    _read_evidence,
    all_specs,
    emission_order,
)

DRIVER_WINDOW = 50

_REPO = pathlib.Path(__file__).resolve().parent.parent


PASS = {"hash_match": True, "err": None}
FAIL = {"hash_match": False, "err": None}
ROWS = {"hash_match": None, "err": "no_oracle"}  # a clean rows-only run


def _write_artifact(root: pathlib.Path, rnd: int, entries: dict[str, dict]) -> None:
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(entries))


def test_contract_is_60_keys():
    assert len(CONTRACT_KEYS) == 60


def test_all_contract_keys_registered():
    assert CONTRACT_KEYS <= set(all_specs())


def test_extras_sort_after_contract_even_if_driver_resorts():
    # Defense for an alphabetically-sorting driver: every beyond-contract
    # key carries the x_ prefix, which sorts after every contract key.
    keys = sorted(all_specs())
    assert all(k.startswith("x_") for k in keys[60:])
    assert not any(k.startswith("x_") for k in keys[:60])


def test_window_is_oldest_evidence_first():
    # Re-derive the order from the real artifacts without the registry's
    # helpers: newest artifact holding the key decides, a failed entry
    # counts as no evidence, and a rows-only key rides on its twin's
    # sort position, just ahead of it.
    newest: dict[str, tuple[int, dict]] = {}
    for p in _REPO.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if not m:
            continue
        for k, entry in json.loads(p.read_text()).items():
            if int(m.group(1)) > newest.get(k, (0, {}))[0]:
                newest[k] = (int(m.group(1)), entry)
    specs = all_specs()

    def evidence(k):
        rnd, entry = newest.get(k, (0, {}))
        ok = entry.get("hash_match") is True or (
            specs[k].oracle is None and entry.get("err") == "no_oracle"
        )
        return rnd if ok else 0

    def sort_key(k):
        twin = ROWS_ONLY_TWINS.get(k)
        if twin is None:
            return (evidence(k), k, 1, "")
        return (evidence(twin), twin, 0, k)

    assert list(specs) == sorted(specs, key=sort_key)


def test_rows_only_keys_precede_their_twins():
    specs = all_specs()
    order = list(specs)
    rows_only = {k for k, s in specs.items() if s.oracle is None}
    assert rows_only == set(ROWS_ONLY_TWINS)
    for key in rows_only:
        twin = ROWS_ONLY_TWINS[key]
        assert specs[twin].oracle is not None, twin
        assert order.index(key) < order.index(twin), key
        # only other rows-only keys of the same twin may sit in between
        between = order[order.index(key) + 1 : order.index(twin)]
        assert all(ROWS_ONLY_TWINS.get(k) == twin for k in between), between


def test_synthetic_evidence_orders_failing_and_unchecked_first(tmp_path):
    plain = ["a_fresh", "b_old", "c_failed", "d_never", "e_refailed", "f_rows"]
    assert emission_order(plain, _read_evidence(tmp_path)) == plain  # name order
    _write_artifact(tmp_path, 1, {
        "b_old": PASS, "c_failed": FAIL, "e_refailed": PASS,
        "f_rows": ROWS,  # has an oracle, so a rows-only run is no evidence
        "x_agg_sketch_hll": ROWS, "gone": PASS,
    })
    _write_artifact(tmp_path, 2, {
        "a_fresh": PASS, "e_refailed": FAIL, "x_agg_distinct_kmv": PASS,
    })
    (tmp_path / "CORRECTNESS_r03_c8.json").write_text(json.dumps({"d_never": PASS}))
    evidence = _read_evidence(tmp_path)
    assert evidence == {
        "b_old": 1, "c_failed": 0, "e_refailed": 0, "f_rows": 0,
        "x_agg_sketch_hll": 1, "gone": 1, "a_fresh": 2, "x_agg_distinct_kmv": 2,
    }
    keys = [*plain, "x_agg_distinct_kmv", "x_agg_sketch_hll"]
    assert emission_order(keys, evidence) == [
        "c_failed", "d_never", "e_refailed", "f_rows",  # round 0, by name
        "b_old",
        "a_fresh", "x_agg_sketch_hll", "x_agg_distinct_kmv",  # rides on its twin
    ]


def test_next_artifact_rotates_the_window(tmp_path):
    # Passing the current window in one more artifact moves all 50 keys
    # behind every other key: no code edit rotates the window.
    for p in _REPO.glob("CORRECTNESS_r*.json"):
        shutil.copy(p, tmp_path)
    specs = all_specs()
    window = list(specs)[:DRIVER_WINDOW]
    assert emission_order(specs, _read_evidence(tmp_path)) == list(specs)
    nxt = 1 + max(_read_evidence(tmp_path).values())
    _write_artifact(
        tmp_path, nxt, {k: ROWS if specs[k].oracle is None else PASS for k in window}
    )
    rotated = emission_order(specs, _read_evidence(tmp_path))
    assert sorted(rotated) == sorted(specs)
    assert not set(rotated[:DRIVER_WINDOW]) & set(window)


def test_every_registered_key_analyzes(registry_plans):
    """Plan-analysis smoke gate: force Catalyst analysis (schema
    resolution) of every registered key at sf0.001.  Catches any
    plan-time AnalysisException — like r3's `x_cell_versions`
    unix_micros-on-NTZ crash — in seconds, without executing a single
    job.  Schemas must also be non-empty: a query that resolves to zero
    columns is a registration bug."""
    failures = []
    for key, p in registry_plans.items():
        if p.width is None:
            failures.append(f"{key}: {type(p.error).__name__}: {p.error}")
        elif p.width == 0:
            failures.append(f"{key}: empty schema")
    assert not failures, "plan-analysis failures:\n" + "\n".join(failures)
