"""The session memo beside load_table (sources.tables.memo): hit/miss counts,
snapshot-token replacement that releases the old value, clear_memos, the
never-served unstattable snapshot, and a guard that operator modules keep no
memo dicts of their own."""

import ast
import os
import pathlib
import re

from legate_pandas_spark.sources.tables import clear_memos, memo, memo_stats, table_path

OPERATORS = pathlib.Path(__file__).resolve().parents[1] / "legate_pandas_spark" / "operators"


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _cached_range(spark, n: int):
    df = spark.range(n).persist()
    df.count()
    return df


def _memo_range(spark, name, d, table, n):
    return memo(
        spark, name, table_path(d, table), lambda: _cached_range(spark, n),
        release=lambda df: df.unpersist(),
    )


def test_hit_and_miss_counts(spark, tmp_path):
    (tmp_path / "documents.parquet").write_bytes(b"v1")
    d = str(tmp_path)
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert memo(spark, "t_counts", table_path(d, "documents"), build) == 1
    assert memo(spark, "t_counts", table_path(d, "documents"), build) == 1
    assert memo(spark, "t_counts", table_path(d, "documents"), build, key=("other",)) == 2
    assert memo_stats("t_counts") == {"hits": 1, "misses": 2, "live": 2}
    assert memo(spark, "t_counts", table_path(d, "documents"), build, refresh=True) == 3
    assert memo_stats("t_counts") == {"hits": 1, "misses": 3, "live": 2}
    clear_memos()
    assert memo_stats("t_counts")["live"] == 0


def test_new_token_replaces_and_releases_old_value(spark, tmp_path):
    doc = tmp_path / "documents.parquet"
    doc.write_bytes(b"v1")
    d = str(tmp_path)
    n0 = _persistent_rdds(spark)
    first = _memo_range(spark, "t_replace", d, "documents", 11)
    assert _persistent_rdds(spark) == n0 + 1
    doc.write_bytes(b"v2, rewritten")
    second = _memo_range(spark, "t_replace", d, "documents", 12)
    assert second is not first
    assert not first.is_cached and second.is_cached
    assert _persistent_rdds(spark) == n0 + 1  # swapped, not stacked
    assert memo_stats("t_replace")["live"] == 1
    clear_memos()
    assert not second.is_cached
    assert _persistent_rdds(spark) <= n0


def test_clear_memos_releases_and_empties_every_entry(spark, tmp_path):
    (tmp_path / "documents.parquet").write_bytes(b"v1")
    (tmp_path / "embeddings.parquet").write_bytes(b"v1")
    d = str(tmp_path)
    n0 = _persistent_rdds(spark)
    a = _memo_range(spark, "t_clear_a", d, "documents", 21)
    b = _memo_range(spark, "t_clear_b", d, "embeddings", 22)
    assert _persistent_rdds(spark) == n0 + 2
    clear_memos()
    assert not a.is_cached and not b.is_cached
    assert _persistent_rdds(spark) <= n0
    package_memos = ("clone_mass", "lsh_pairs", "bpe_sym", "cosine_route", "ingest_stores")
    for name in ("t_clear_a", "t_clear_b", *package_memos):
        assert memo_stats(name)["live"] == 0, name
    # the next call builds afresh
    memo(spark, "t_clear_a", table_path(d, "documents"), lambda: 0)
    assert memo_stats("t_clear_a") == {"hits": 0, "misses": 2, "live": 1}
    clear_memos()


def test_unstattable_snapshot_is_never_served(spark, tmp_path, monkeypatch):
    """A table file that cannot be stat'ed (a racing rewrite) gives no
    snapshot: every call builds; once it stats again the memo serves."""
    table = tmp_path / "documents.parquet"
    table.mkdir()
    (table / "part-0.parquet").write_bytes(b"v1")
    d = str(tmp_path)
    real_stat = os.stat

    def racing_stat(path, *args, **kwargs):
        if os.path.basename(str(path)).startswith("part-"):
            raise FileNotFoundError(path)
        return real_stat(path, *args, **kwargs)

    built = []

    def build():
        built.append(1)
        return len(built)

    monkeypatch.setattr(os, "stat", racing_stat)
    assert memo(spark, "t_unstattable", table_path(d, "documents"), build) == 1
    assert memo(spark, "t_unstattable", table_path(d, "documents"), build) == 2
    monkeypatch.undo()
    assert memo(spark, "t_unstattable", table_path(d, "documents"), build) == 3
    assert memo(spark, "t_unstattable", table_path(d, "documents"), build) == 3  # served
    assert memo_stats("t_unstattable") == {"hits": 1, "misses": 3, "live": 1}
    clear_memos()


def test_no_module_level_cache_dicts_in_operators():
    """Session-derived values go through sources.tables.memo; operator
    modules keep no memo dicts of their own."""
    pattern = re.compile(r"^_\w*CACHE$")
    found = []
    for path in sorted(OPERATORS.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            found += [
                f"{path.name}:{node.lineno} {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and pattern.match(t.id)
            ]
    assert not found, f"module-level memo dicts outside sources.tables: {found}"
