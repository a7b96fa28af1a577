"""One commit protocol for every writer: ``LakeTable._commit_attempt``
builds every snapshot after ``create``, and every lost race follows
``LakeTable._rebase`` — the ``format("panorama")`` writers included.

The data-source tests drive the writer classes directly (task write on
the driver, then ``commit``/``abort``), the way Spark calls them: a
streaming commit or abort may run on a writer instance planned after
the tasks ran, so it must trust only the task messages."""

import ast
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.functions.murmur import bucket_of
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.fileio import LocalFileIO
from panorama_elt_spark.lakehouse.snapshot import CommitConflict
from panorama_elt_spark.sources.panorama_datasource import (
    PanoramaReader,
    PanoramaStreamSink,
    PanoramaWriter,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "panorama_elt_spark")

SCHEMA = TableSchema(
    [
        Field(1, "id", "bigint", False),
        Field(2, "val", "double"),
        Field(3, "name", "string"),
    ],
    schema_version=1,
)
NAMES = ["id", "val", "name"]
EVENT_NAMES = NAMES + ["op", "lsn"]


def _rows(ids, lsn=None, op="U", bump=0.0):
    cols = {
        "id": pa.array(list(ids), pa.int64()),
        "val": pa.array([i + bump for i in ids], pa.float64()),
        "name": pa.array([f"n-{i}" for i in ids]),
    }
    if lsn is not None:
        cols["op"] = pa.array([op] * len(ids))
        cols["lsn"] = pa.array([lsn + i for i in range(len(ids))], pa.int64())
    return iter(pa.table(cols).to_batches())


def _frame(spark, n):
    return spark.range(0, n).select(
        F.col("id"),
        F.col("id").cast("double").alias("val"),
        F.concat(F.lit("n-"), F.col("id")).alias("name"),
    )


def _sink(root):
    return PanoramaStreamSink(root, {"path": root}, False, EVENT_NAMES)


def _state(t):
    return sorted((r["id"], r["val"]) for r in t.read().collect())


def test_ds_append_planned_before_a_rebucket_conflicts(spark, tmp_path):
    """Tasks bucketed rows for 4 buckets; a rebucket to 7 landed before
    the commit. Committing those files would strand their keys in the
    wrong buckets, so the commit refuses; a rerun writes the new layout."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    t.append(_frame(spark, 200))
    stale = PanoramaWriter(root, {"path": root}, False, NAMES)
    msg = stale.write(_rows(range(200, 400)))
    t.rebucket(7)
    with pytest.raises(CommitConflict):
        stale.commit([msg])
    counts = LakeTable.load(spark, root).read().groupBy("id").count()
    assert counts.count() == 200 and counts.filter("count != 1").count() == 0

    fresh = PanoramaWriter(root, {"path": root}, False, NAMES)
    fresh.commit([fresh.write(_rows(range(200, 400)))])
    t = LakeTable.load(spark, root)
    assert t.snapshot.n_buckets == 7
    counts = t.read().groupBy("id").count()
    assert counts.count() == 400 and counts.filter("count != 1").count() == 0
    # bucket-pruned point lookups find every appended key
    got = t.read_where([("id", "in", list(range(200, 400)))]).count()
    assert got == 200


def test_sink_epoch_never_moves_the_checkpoint_backwards(spark, tmp_path):
    """A merge checkpointed LSN 100; a sink epoch whose events top out
    at LSN 5 commits its rows but leaves the checkpoint at 100 — the
    tail resumes from ``last_lsn + 1``."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    merge_batch(
        t,
        spark.createDataFrame(
            [(100, "U", 1, 1.0, "a")], "lsn long, op string, id long, val double, name string"
        ),
        batch_id="b100",
    )
    assert t.snapshot.last_lsn == 100
    v = t.snapshot.version
    sink = _sink(root)
    sink.commit([sink.write(_rows([2, 3], lsn=4))], batchId=0)
    snap = t.snapshot
    assert snap.version == v + 1 and snap.last_lsn == 100
    assert _state(t) == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_sink_epoch_commits_and_aborts_after_an_alter(spark, tmp_path):
    """Spark commits and aborts each epoch on a fresh ``streamWriter()``
    built with the query's columns. An ALTER that adds a column after
    the epoch's tasks ran must stop neither: the files are valid under
    the schema version their message carries. A write with the old
    columns still fails before it writes a file."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    sink = _sink(root)
    kept = sink.write(_rows([1, 2], lsn=1))
    dropped = sink.write(_rows([3], lsn=5))
    t.alter_schema(
        TableSchema(SCHEMA.fields + [Field(4, "stars", "bigint")], schema_version=2)
    )
    _sink(root).commit([kept], batchId=0)
    snap = t.snapshot
    assert snap.schema.schema_version == 2 and "pansink:default:0" in snap.committed_batches
    assert {f.schema_version for f in snap.files} == {1}
    assert sorted((r["id"], r["val"], r["stars"]) for r in t.read().collect()) == [
        (1, 1.0, None),
        (2, 2.0, None),
    ]
    _sink(root).abort([dropped], batchId=1)
    assert dropped.files and not any(
        os.path.exists(os.path.join(root, path)) for path, *_ in dropped.files
    )
    assert t.snapshot.version == snap.version
    with pytest.raises(ValueError, match="write schema mismatch"):
        _sink(root).write(_rows([4], lsn=9))
    assert {f.path for f in t.snapshot.files} == {f.path for f in snap.files}


def test_sink_epoch_racing_a_compaction_rebases(spark, tmp_path, monkeypatch):
    """A compaction lands between the epoch commit's snapshot read and
    its CAS: the epoch's delta files re-target the compacted snapshot
    through ``_rebase``, like a merge-on-read merge would."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    sink = _sink(root)
    sink.commit([sink.write(_rows(range(20), lsn=1))], batchId=0)
    msg = sink.write(_rows(range(5), lsn=30, bump=100.0))

    original_attempt = LakeTable._commit_attempt
    compacted = []

    def racing(self, parent, *args, batch_id=None, **kwargs):
        if batch_id == "pansink:default:1" and not compacted:
            compacted.append(LakeTable.load(spark, root).compact())
        return original_attempt(self, parent, *args, batch_id=batch_id, **kwargs)

    original_rebase = LakeTable._rebase
    rebased = []

    def spy(self, *args, **kwargs):
        out = original_rebase(self, *args, **kwargs)
        rebased.append(out is not None)
        return out

    monkeypatch.setattr(LakeTable, "_commit_attempt", racing)
    monkeypatch.setattr(LakeTable, "_rebase", spy)
    _sink(root).commit([msg], batchId=1)  # Spark commits on a fresh instance

    assert compacted and compacted[0] > 0
    assert rebased == [True]
    snap = t.snapshot
    assert snap.version == 3  # epoch 0, the compaction, epoch 1
    assert t.is_batch_committed("pansink:default:1")
    epoch1 = {p for p, *_ in msg.files}
    assert {f.path for f in snap.files if f.kind == "delta"} == epoch1
    assert _state(t) == [(i, i + (100.0 if i < 5 else 0.0)) for i in range(20)]


def test_sink_abort_deletes_only_its_own_files(spark, tmp_path):
    """One sink writes every epoch into the same directory: aborting an
    epoch must leave earlier epochs' committed files (and sidecars)."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    sink = _sink(root)
    sink.commit([sink.write(_rows(range(10), lsn=1))], batchId=0)
    msg1 = sink.write(_rows(range(10, 20), lsn=20))
    msg2 = sink.write(_rows(range(20, 30), lsn=40))
    aborted = [os.path.join(root, p) for m in (msg1, msg2) for p, *_ in m.files]
    assert aborted and all(os.path.exists(p + ".bloom") for p in aborted)
    # a failed task reports None; Spark may abort on a fresh instance
    sink.abort([msg1, None], batchId=1)
    _sink(root).abort([msg2], batchId=2)
    assert not any(os.path.exists(p) or os.path.exists(p + ".bloom") for p in aborted)
    live = [os.path.join(root, f.path) for f in t.snapshot.files]
    assert live and all(os.path.exists(p) and os.path.exists(p + ".bloom") for p in live)
    assert _state(t) == [(i, float(i)) for i in range(10)]


@pytest.fixture()
def manifest_reads(monkeypatch):
    """Every manifest file read through the local FileIO seam."""
    reads = []
    original = LocalFileIO.read_text

    def counting(self, path):
        if os.path.basename(path).startswith("m-"):
            reads.append(path)
        return original(self, path)

    monkeypatch.setattr(LocalFileIO, "read_text", counting)
    return reads


def test_overwrites_read_no_parent_manifest(spark, tmp_path, manifest_reads):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=32)
    t.append(_frame(spark, 300))
    assert len(t.snapshot.manifests) == 4

    manifest_reads.clear()
    t.overwrite(_frame(spark, 200), properties={"k": "v"})
    assert manifest_reads == []
    assert t.snapshot.total_rows() == 200 and t.snapshot.properties["k"] == "v"

    w = PanoramaWriter(root, {"path": root}, True, NAMES)
    msg = w.write(_rows(range(50)))
    manifest_reads.clear()
    w.commit([msg])
    assert manifest_reads == []
    assert t.snapshot.total_rows() == 50
    assert _state(t) == [(i, float(i)) for i in range(50)]


def test_merge_reads_only_the_manifests_of_its_buckets(spark, tmp_path, manifest_reads):
    """A merge reads each manifest covering its buckets once (for the
    resident files; the commit reuses the loaded copy) and never a
    manifest of an untouched bucket group."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=32)
    t.append(_frame(spark, 300))
    parent = t.snapshot
    events = spark.createDataFrame(
        [(1000 + i, "U", i, -1.0, "x") for i in (3, 4)],
        "lsn long, op string, id long, val double, name string",
    )
    manifest_reads.clear()
    merge_batch(t, events, batch_id="b1")
    reads = sorted(manifest_reads)
    buckets = {bucket_of([i], ["bigint"], 32) for i in (3, 4)}
    covering = {
        os.path.join(root, m.path) for m in parent.manifests if set(m.buckets) & buckets
    }
    assert len(covering) < len(parent.manifests)
    assert reads == sorted(covering)


def test_unknown_ref_raises_the_same_key_error_on_both_surfaces(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    for _ in range(2):  # before and after the refs document exists
        with pytest.raises(KeyError) as lib:
            t.resolve_ref("nope")
        with pytest.raises(KeyError) as ds:
            PanoramaReader(root, {"ref": "nope"})
        assert str(lib.value) == str(ds.value)
        t.tag("audit")
    assert PanoramaReader(root, {"ref": "audit"}).snap.version == 0


def _enclosing_calls(tree, name):
    """(innermost enclosing function, call) for every ``name(...)`` call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                called = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if called == name:
                    out.append(fn)
            visit(child, fn)

    visit(tree, None)
    return out


def _catches_commit_conflict_in_a_loop(tree) -> bool:
    for loop in ast.walk(tree):
        if not isinstance(loop, (ast.For, ast.While)):
            continue
        for node in ast.walk(loop):
            if isinstance(node, ast.ExceptHandler) and node.type is not None:
                if "CommitConflict" in ast.unparse(node.type):
                    return True
    return False


def _modules(sub=""):
    for dirpath, _dirs, names in os.walk(os.path.join(PKG, sub)):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def test_snapshots_are_built_only_by_the_commit():
    """``create`` builds version 0, ``_commit_attempt`` every later
    version, ``from_json`` parses stored ones; a fourth site would be a
    commit that skips the shared rules (checkpoint, key renames,
    retention). The data source leaves conflict handling to the table."""
    sites = {
        (rel, fn) for rel, tree in _modules() for fn in _enclosing_calls(tree, "Snapshot")
    }
    assert sites == {
        (os.path.join("lakehouse", "table.py"), "create"),
        (os.path.join("lakehouse", "table.py"), "_commit_attempt"),
        (os.path.join("lakehouse", "snapshot.py"), "from_json"),
    }
    looping = [rel for rel, tree in _modules("sources") if _catches_commit_conflict_in_a_loop(tree)]
    assert looping == []
