"""Staging lifecycle guards (ADVICE r2, items 1-2).

``fingerprinted_dir`` must be a pure naming function (no pruning side
effects — a concurrent reader of the old version must never lose its
input just because another session computed the new path), and
``prune_superseded`` must remove only AGED superseded versions of the
same (tag, identity), never the current version, never another tag or
source.  ``catalog.read_parquet``'s schema cache must never serve a
schema for a file version or a path list it was not inferred from.
"""

from __future__ import annotations

import os
import time

from hbasemapreduce_spark import catalog
from hbasemapreduce_spark.catalog import read_parquet
from hbasemapreduce_spark.functions.staging import (
    fingerprinted_dir,
    prune_superseded,
    source_ident,
)


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
