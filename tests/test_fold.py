"""The last-writer-wins fold exists once per engine (``lakehouse/fold.py``):
the JVM ``lww_fold`` and the Arrow ``lww_winners`` must pick the same
winners, and no other module may grow its own struct-packed copy."""

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.fold import (
    history_fields,
    load_projected,
    lww_fold,
    lww_winners,
    target_fields,
)
from panorama_elt_spark.lakehouse.snapshot import DataFile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "panorama_elt_spark")

V1 = TableSchema(
    [Field(1, "repo", "string"), Field(2, "path", "string"), Field(3, "content", "string")],
    schema_version=1,
)
# v2 renames content -> body and adds stars (default 0)
V2 = TableSchema(
    [
        Field(1, "repo", "string"),
        Field(2, "path", "string"),
        Field(3, "body", "string"),
        Field(4, "stars", "int", default=0),
    ],
    schema_version=2,
)


def _write(root, rel, columns):
    os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(root, rel))


def test_jvm_and_arrow_folds_agree(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, V1, ["repo", "path"], n_buckets=1)
    t.alter_schema(V2)
    snap = t.snapshot
    _write(root, "data/v1.parquet", {
        "repo": [None, None, "o", "o", "o", "o"],
        "path": ["n.py", "n.py", "k1.py", "k2.py", "k3.py", "k3.py"],
        "content": ["n0", "n1", "a", "b", "c", "c"],
        "__op": ["U", "U", "U", "D", "U", "U"],
        "__lsn": pa.array([1, 4, 1, 2, 3, 3], pa.int64()),
    })
    _write(root, "data/v2.parquet", {
        "repo": ["o", "o", "o", "o"],
        "path": ["k1.py", "k2.py", "k4.py", None],
        "body": [None, "b2", "d", "np"],
        "stars": pa.array([None, 8, 3, 1], pa.int32()),
        "__op": ["D", "U", "E", "U"],
        "__lsn": pa.array([5, 6, -1, 7], pa.int64()),
    })
    files = [
        DataFile("data/v1.parquet", 0, 6, 1, "delta"),
        DataFile("data/v2.parquet", 0, 4, 2, "delta"),
    ]
    keys, payload = ["repo", "path"], ["body", "stars"]
    cols = keys + payload + ["__op", "__lsn"]

    def projected(file_set):
        return load_projected(
            root,
            [(f.path, f.schema_version, f.kind) for f in file_set],
            history_fields(snap.schema_history),
            target_fields(snap.schema),
        )

    def jvm_rows(file_set):
        jvm = lww_fold(t._read_mapped(snap, file_set), keys, payload)
        return {tuple(r[c] for c in cols) for r in jvm.collect()}

    def arrow_rows(tbl):
        return {tuple(r[c] for c in cols) for r in lww_winners(tbl, keys).to_pylist()}

    both = projected(files)
    # one chunk per row: the concatenated shape the bucket-local merge passes
    chunked = pa.concat_tables([both.slice(i, 1) for i in range(len(both))])
    assert chunked.column("__lsn").num_chunks == len(both)
    assert jvm_rows([]) == arrow_rows(projected([])) == set()
    assert jvm_rows(files) == arrow_rows(both) == arrow_rows(chunked) == {
        (None, "n.py", "n1", 0, "U", 4),  # NULL key groups like any value
        ("o", "k1.py", None, None, "D", 5),  # tombstone newer than an update
        ("o", "k2.py", "b2", 8, "U", 6),  # update newer than a tombstone
        ("o", "k3.py", "c", 0, "U", 3),  # duplicated (key, lsn), one row
        ("o", "k4.py", "d", 3, "E", -1),  # appended row, no competitor
        ("o", None, "np", 1, "U", 7),
    }


def test_struct_packed_fold_lives_only_in_fold_module():
    """A struct-packed ``max_by`` is the LWW fold; a second copy under the
    engine packages would drift from ``lakehouse/fold.py``."""
    pattern = re.compile(r"max_by\(\s*F\.struct\(")
    hits = {}
    for sub in ("cdc", "lakehouse", "sources"):
        for dirpath, _dirs, names in os.walk(os.path.join(PKG, sub)):
            for name in names:
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    with open(path) as fh:
                        n = len(pattern.findall(fh.read()))
                    if n:
                        hits[os.path.relpath(path, PKG)] = n
    assert hits == {os.path.join("lakehouse", "fold.py"): 1}


def test_lakehouse_modules_do_not_import_pandas():
    """The folds, feeds and writers stay in Arrow and the JVM; a pandas
    hop in the lakehouse package would convert every batch twice."""
    pattern = re.compile(r"^\s*(import pandas|from pandas\b)", re.MULTILINE)
    root = os.path.join(PKG, "lakehouse")
    hits = []
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name)) as fh:
                    if pattern.search(fh.read()):
                        hits.append(name)
    assert hits == []
