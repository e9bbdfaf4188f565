"""Staging lifecycle guards (ADVICE r2, items 1-2).

``fingerprinted_dir`` must be a pure naming function (no pruning side
effects — a concurrent reader of the old version must never lose its
input just because another session computed the new path), and
``prune_superseded`` must remove only AGED superseded versions of the
same (tag, identity), never the current version, never another tag or
source.  ``staged`` writes once per source version, marks a directory
complete only after its write returns, and prunes only after marking;
``sink_dir`` keys on the source's full path.  No module but
``functions/staging.py`` builds a scratch path or a staging marker.
``catalog.read_parquet``'s schema cache must never serve a schema for a
file version or a path list it was not inferred from.
"""

from __future__ import annotations

import ast
import os
import time
from pathlib import Path

import pytest

from hbasemapreduce_spark import catalog
from hbasemapreduce_spark.catalog import read_parquet
from hbasemapreduce_spark.functions import staging
from hbasemapreduce_spark.functions.staging import (
    fingerprinted_dir,
    prune_superseded,
    sink_dir,
    source_ident,
    staged,
)

from .conftest import docstring_ids


def _mk(path: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "data"), "w") as f:
        f.write("x")


def _age(path: str, sec: float) -> None:
    old = time.time() - sec
    os.utime(path, (old, old))


def test_fingerprinted_dir_is_pure(tmp_path):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"v1")
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    stale = scratch / f"tag_{source_ident(str(src))}_deadbeef00"
    _mk(str(stale))
    _age(str(stale), 3600)
    out = fingerprinted_dir(str(scratch), "tag", str(src))
    assert not os.path.exists(out)  # naming only, nothing created
    assert stale.exists()  # and nothing pruned


def test_prune_superseded_age_gated_and_scoped(tmp_path):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"v1")
    other_src = tmp_path / "other.parquet"
    other_src.write_bytes(b"zz")
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    ident = source_ident(str(src))

    current = fingerprinted_dir(str(scratch), "tag", str(src))
    _mk(current)
    old_version = scratch / f"tag_{ident}_0123456789"
    fresh_version = scratch / f"tag_{ident}_abcdef0123"
    other_tag = scratch / f"other_{ident}_0123456789"
    other_ident = scratch / f"tag_{source_ident(str(other_src))}_0123456789"
    for d in (old_version, fresh_version, other_tag, other_ident):
        _mk(str(d))
    _age(str(old_version), 3600)  # past the grace window
    _age(str(other_tag), 3600)
    _age(str(other_ident), 3600)
    # fresh_version keeps its just-created mtime: inside the grace window

    removed = prune_superseded(str(scratch), "tag", str(src), grace_sec=600)

    assert removed == [str(old_version)]
    assert not old_version.exists()  # aged superseded version: pruned
    assert fresh_version.exists()  # inside grace window: kept
    assert os.path.exists(current)  # current version: kept
    assert other_tag.exists()  # different tag: untouched
    assert other_ident.exists()  # different source identity: untouched


def test_version_change_renames_dir(tmp_path):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"v1")
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    d1 = fingerprinted_dir(str(scratch), "tag", str(src))
    time.sleep(0.01)
    src.write_bytes(b"v2-longer")  # new mtime+size -> new version
    d2 = fingerprinted_dir(str(scratch), "tag", str(src))
    assert d1 != d2


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    root = tmp_path / "scratch"
    monkeypatch.setattr(staging, "SCRATCH", str(root))
    return root


def test_staged_writes_once_then_serves_the_marked_dir(tmp_path, scratch):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"v1")
    calls = []

    def write(d):
        calls.append(d)
        _mk(d)

    first = staged("tag", str(src), write)
    second = staged("tag", str(src), write)
    assert first == second == fingerprinted_dir(str(scratch), "tag", str(src))
    assert calls == [first]
    assert os.path.exists(os.path.join(first, staging.MARKER))


def test_staged_failed_write_leaves_no_marker(tmp_path, scratch):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"v1")
    out = fingerprinted_dir(str(scratch), "tag", str(src))

    def boom(d):
        _mk(d)  # a partial copy on disk
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError):
        staged("tag", str(src), boom)
    assert not os.path.exists(os.path.join(out, staging.MARKER))
    calls = []
    assert staged("tag", str(src), calls.append) == out
    assert calls == [out]  # the partial copy is rewritten, not served


def test_staged_prunes_superseded_only_after_marking(tmp_path, scratch):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"v1")
    old_version = scratch / f"tag_{source_ident(str(src))}_0123456789"
    _mk(str(old_version))
    _age(str(old_version), 3600)  # past the grace window

    def boom(d):
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError):
        staged("tag", str(src), boom)
    assert old_version.exists()  # new version never marked: old one kept
    seen = []
    staged("tag", str(src), lambda d: seen.append(old_version.exists()))
    assert seen == [True]  # still there while the new version is written
    assert not old_version.exists()  # and pruned once it is marked


def test_sink_dir_keys_on_the_full_source_path(tmp_path, scratch):
    # same file name and same scale-dir basename, different checkouts
    a = tmp_path / "a" / "sf0.01" / "orders.parquet"
    b = tmp_path / "b" / "sf0.01" / "orders.parquet"
    da, db = sink_dir("sink", str(a)), sink_dir("sink", str(b))
    assert da != db
    assert os.path.dirname(da) == os.path.dirname(db) == str(scratch)
    assert sink_dir("sink", str(a)) == da  # stable across calls


# string constants that name a scratch root or a completion marker
_STAGING_STRINGS = (".scratch", "_SUCCESS", "_evolved", "_staged_4way")
# the scratch root and the helpers only staging.py itself may use
_STAGING_NAMES = {"SCRATCH", "fingerprinted_dir", "prune_superseded", "repo_root"}


def _staging_idiom_uses(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    docstrings = docstring_ids(tree)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docstrings:
                hits = [s for s in _STAGING_STRINGS if s in node.value]
                found += [f"{path}:{node.lineno} {s!r}" for s in hits]
        elif isinstance(node, ast.Name) and node.id in _STAGING_NAMES:
            found.append(f"{path}:{node.lineno} {node.id}")
        elif isinstance(node, ast.alias) and node.name in _STAGING_NAMES:
            found.append(f"{path}:{node.lineno} import {node.name}")
    return found


def test_only_staging_module_owns_scratch():
    # One copy of the stage-if-missing idiom: any other module that
    # builds a .scratch path or keeps its own marker goes through
    # functions/staging.py instead.
    pkg = Path(staging.__file__).resolve().parents[1]
    own = Path(staging.__file__).resolve()
    found = [
        use
        for path in sorted(pkg.rglob("*.py"))
        if path.resolve() != own
        for use in _staging_idiom_uses(path)
    ]
    assert found == [], found
    assert _staging_idiom_uses(own)  # the scan does see the idiom where it lives


def test_read_parquet_rereads_a_rewritten_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_read_parquet_keys_the_whole_path_list(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    first, second = str(tmp_path / "p1.parquet"), str(tmp_path / "p2.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), first)
    pq.write_table(pa.table({"a": [3]}), second)
    before = set(catalog._SCHEMA_CACHE)
    assert read_parquet(spark, first).count() == 2
    assert read_parquet(spark, first, second).count() == 3
    assert len(set(catalog._SCHEMA_CACHE) - before) == 2
