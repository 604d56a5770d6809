"""Tests for the benchmark's input generator.

    python3 -m pytest perfbench/test_datagen.py -q

The generated schemas are compared with the repository's test tables, at
the directory ``tests/conftest.py`` reads them from (``GMR_TEST_SF_DIR``, or
its default); that test is skipped where the directory is missing.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import datagen

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tests.conftest import SF_ORACLE  # noqa: E402  the test tables' directory

SIZE = 0.002


def _schema(path: str) -> str:
    schema = pq.read_schema(path).remove_metadata()
    return ", ".join(f"{f.name}: {f.type}" for f in schema)


@pytest.fixture(scope="module")
def two_builds(tmp_path_factory):
    a = datagen.ensure_dataset(str(tmp_path_factory.mktemp("a")), 7, SIZE)
    b = datagen.ensure_dataset(str(tmp_path_factory.mktemp("b")), 7, SIZE)
    return a, b


def test_same_seed_gives_identical_files(two_builds):
    a, b = two_builds
    names = [f"{t}.parquet" for t in datagen.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert (mismatch, errors) == ([], [])
    assert sorted(match) == sorted(names)


def test_other_seed_gives_other_rows():
    a = datagen.build_tables(7, SIZE)["lineitem"]
    b = datagen.build_tables(8, SIZE)["lineitem"]
    assert a.num_rows == b.num_rows
    assert not a.equals(b)


@pytest.mark.skipif(not os.path.isdir(SF_ORACLE), reason="no test tables")
def test_schemas_match_the_test_tables(two_builds):
    a, _ = two_builds
    for t in datagen.TABLES:
        ref = os.path.join(SF_ORACLE, f"{t}.parquet")
        assert _schema(os.path.join(a, f"{t}.parquet")) == _schema(ref), t


def test_row_counts_scale_with_size(two_builds):
    a, _ = two_builds
    want = datagen.table_rows(SIZE)
    for t in datagen.TABLES:
        assert pq.ParquetFile(os.path.join(a, f"{t}.parquet")).metadata.num_rows == want[t]
    assert datagen.table_rows(0.1)["lineitem"] == 600_000


def test_value_domains(two_builds):
    a, _ = two_builds
    rows = datagen.table_rows(SIZE)
    li = pq.read_table(os.path.join(a, "lineitem.parquet"))
    assert pa.compute.max(li["l_orderkey"]).as_py() < rows["orders"]
    assert pa.compute.max(li["l_suppkey"]).as_py() < rows["supplier"]
    assert set(li["l_returnflag"].to_pylist()) <= {"A", "N", "R"}
    docs = pq.read_table(os.path.join(a, "documents.parquet")).to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert any(t.endswith(" dup") for t in docs["text"])
    emb = pq.read_table(os.path.join(a, "embeddings.parquet"))
    assert {len(v) for v in emb["embedding"].to_pylist()} == {64}


def test_cache_is_reused(tmp_path):
    root = str(tmp_path)
    first = datagen.ensure_dataset(root, 3, SIZE)
    stamp = os.stat(os.path.join(first, "lineitem.parquet")).st_mtime_ns
    again = datagen.ensure_dataset(root, 3, SIZE)
    assert again == first
    assert os.stat(os.path.join(again, "lineitem.parquet")).st_mtime_ns == stamp
