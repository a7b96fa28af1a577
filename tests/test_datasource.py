"""The ``panorama`` Python data source: read-time snapshot resolution.

Contract: ``spark.read.format("panorama").load(root)`` returns exactly
``LakeTable.read()`` — through merge-on-read delta folds, schema
evolution, and time travel — and key-equality filters prune the scan to
the key's bucket without changing results. The driver-side Murmur3 that
powers the pruning is pinned bit-for-bit against ``F.hash``.
"""

import ast
import datetime
import os
import random

import pytest
from pyspark.sql import functions as F, types as T
from pyspark.sql.datasource import EqualTo, In

from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.functions.murmur import bucket_of, hash_columns, murmur3_hash
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.schema import apply_alters, diff_schemas
from panorama_elt_spark.sources.panorama_datasource import (
    PanoramaDataSource,
    PanoramaReader,
)

SCHEMA = TableSchema(
    [
        Field(1, "repo", "string", False),
        Field(2, "path", "string", False),
        Field(3, "content", "string"),
    ],
    schema_version=1,
)


PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "panorama_elt_spark")


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(PanoramaDataSource)
    return spark


def _rows(n):
    return [(f"o/r{i % 5}", f"f{i}.py", f"body{i}") for i in range(n)]


def _sorted(df):
    return sorted(map(tuple, df.collect()))


# --------------------------------------------------------------- murmur


def test_murmur3_matches_spark_hash(spark):
    random.seed(11)
    rows = [
        (
            random.randint(-(2**31), 2**31 - 1),
            random.randint(-(2**63), 2**63 - 1),
            random.choice([None, "", "a", "abcd", "héllo wörld", "x" * 37, "é中文"]),
            random.choice([None, True, False]),
            datetime.date(1970, 1, 1) + datetime.timedelta(days=random.randint(-9000, 9000)),
            datetime.datetime(2021, 3, 4, 5, 6, 7, random.randint(0, 999999)),
        )
        for _ in range(60)
    ]
    struct = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("d", T.DateType()),
            T.StructField("t", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame(rows, struct)
    got = df.select(
        F.hash("i", "l", "s", "b", "d", "t").alias("all"),
        F.hash("s").alias("s_only"),
        F.pmod(F.hash("i", "s"), F.lit(16)).cast("int").alias("bk"),
    ).collect()
    types = ["int", "bigint", "string", "boolean", "date", "timestamp"]
    for r, row in zip(rows, got):
        assert murmur3_hash(list(r), types) == row.all
        assert murmur3_hash([r[2]], ["string"]) == row.s_only
        assert bucket_of([r[0], r[2]], ["int", "string"], 16) == row.bk

    # the column kernel itself, on the Arrow columns Spark hands out:
    # every key type, ASCII and multibyte strings at every UTF-8 tail
    # length 0-3, NULLs inside composite keys, and sliced arrays
    strings = [None, "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
               "😀", "é中", "é", "中", "héllo wörld", "é中文", "x" * 37]
    assert {len(s.encode()) % 4 for s in strings[9:13]} == {0, 1, 2, 3}
    kinds = {"i": "int", "l": "bigint", "b": "boolean", "d": "date",
             "t": "timestamp", "s": "string", "m": "string"}
    krows = [
        (
            random.choice([None, random.randint(-(2**31), 2**31 - 1)]),
            random.choice([None, random.randint(-(2**63), 2**63 - 1)]),
            random.choice([None, True, False]),
            random.choice([None, datetime.date(1970, 1, 1)
                           + datetime.timedelta(days=random.randint(-9000, 9000))]),
            random.choice([None, datetime.datetime(2021, 3, 4, 5, 6, 7, random.randint(0, 999999))]),
            strings[k % len(strings)],
            random.choice(strings),
        )
        for k in range(240)
    ]
    kstruct = T.StructType(
        [T.StructField(c, struct[c].dataType) for c in "ilbdts"]
        + [T.StructField("m", T.StringType())]
    )
    keys = {"all": list(kinds), "s": ["s"], "sm": ["s", "m"], "i_s": ["i", "s"],
            "t_d_b": ["t", "d", "b"], "l_m": ["l", "m"]}
    got = (
        spark.createDataFrame(krows, kstruct)
        .select(*[F.hash(*c).alias(f"h_{name}") for name, c in keys.items()], *kinds)
        .toArrow()
    )
    for name, cols in keys.items():
        want = got[f"h_{name}"].to_pylist()
        arrays = [got[c].combine_chunks() for c in cols]
        types = [kinds[c] for c in cols]
        assert hash_columns(arrays, types).tolist() == want, name
        sliced = [a.slice(5, 200) for a in arrays]
        assert all(a.offset == 5 for a in sliced)
        assert hash_columns(sliced, types).tolist() == want[5:205], name


# ----------------------------------------------------------- read parity


def test_read_parity_plain(registered, spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=8)
    t.append(spark.createDataFrame(_rows(200), SCHEMA.to_struct()))
    df = spark.read.format("panorama").load(t.root)
    assert df.schema == SCHEMA.to_struct()
    assert _sorted(df) == _sorted(t.read())


def test_empty_table_reads_empty(registered, spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=4)
    assert spark.read.format("panorama").load(t.root).count() == 0


def test_point_lookup_prunes_buckets(registered, spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=8)
    t.append(spark.createDataFrame(_rows(200), SCHEMA.to_struct()))
    # reader-level: the filter set pins both key cols -> one bucket
    r = PanoramaReader(t.root, {})
    r.pushFilters([EqualTo(("repo",), "o/r2"), EqualTo(("path",), "f7.py")])
    assert r._plan().key_buckets == {bucket_of(["o/r2", "f7.py"], ["string", "string"], 8)}
    assert len(r.partitions()) == 1
    # and an In() filter covers the union of its combos' buckets
    r2 = PanoramaReader(t.root, {})
    r2.pushFilters([EqualTo(("repo",), "o/r2"), In(("path",), ("f7.py", "f12.py"))])
    pinned = r2._plan().key_buckets
    assert pinned is not None and 1 <= len(pinned) <= 2
    # end-to-end: pruned read returns exactly the matching row
    df = spark.read.format("panorama").load(t.root)
    got = df.filter((F.col("repo") == "o/r2") & (F.col("path") == "f7.py")).collect()
    assert [tuple(x) for x in got] == [("o/r2", "f7.py", "body7")]


def test_partial_key_filter_does_not_prune(registered, spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=8)
    t.append(spark.createDataFrame(_rows(40), SCHEMA.to_struct()))
    r = PanoramaReader(t.root, {})
    r.pushFilters([EqualTo(("repo",), "o/r2")])  # path unconstrained
    assert r._plan().key_buckets is None


# --------------------------------------------------- merge-on-read fold


def _cdc(spark, rows):
    return spark.createDataFrame(
        rows, "lsn long, op string, repo string, path string, content string"
    )


def test_read_parity_mor_deltas(registered, spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=4)
    merge_batch(
        t,
        _cdc(spark, [(i, "I", "r", f"k{i}", f"v{i}") for i in range(8)]),
        batch_id="seed",
    )
    merge_batch(
        t,
        _cdc(spark, [(10, "U", "r", "k1", "v1b"), (11, "D", "r", "k2", None)]),
        batch_id="d1",
        strategy="append_delta",
    )
    merge_batch(
        t,
        _cdc(spark, [(20, "U", "r", "k1", "v1c"), (21, "I", "r", "k9", "v9")]),
        batch_id="d2",
        strategy="append_delta",
    )
    assert t.snapshot.delta_buckets()  # the fixture really is MOR
    df = spark.read.format("panorama").load(t.root)
    assert _sorted(df) == _sorted(t.read())
    raw = spark.read.format("panorama").option("with_deltas", "false").load(t.root)
    assert _sorted(raw) == _sorted(t.read(with_deltas=False))


# ---------------------------------------------- schema evolution + time


def test_read_parity_schema_evolution_and_time_travel(registered, spark, tmp_path):
    v1 = TableSchema(
        [Field(1, "repo", "string", False), Field(2, "n", "int")], schema_version=1
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), v1, ["repo"], n_buckets=4)
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], v1.to_struct()))
    v_before = t.snapshot.version
    # add a defaulted column, widen n, rename repo -> repo_id
    v2 = TableSchema(
        [
            Field(1, "repo_id", "string", False),
            Field(2, "n", "bigint"),
            Field(3, "lang", "string", True, "py"),
        ],
        schema_version=2,
    )
    t.alter_schema(apply_alters(v1, diff_schemas(v1, v2), 2))
    t.append(spark.createDataFrame([("c", 3, "rs")], v2.to_struct()))
    df = spark.read.format("panorama").load(t.root)
    assert df.schema == v2.to_struct()
    assert _sorted(df) == _sorted(t.read())
    assert ("a", 1, "py") in _sorted(df)  # old file: defaulted + widened
    # time travel reads the old snapshot under the old schema
    old = spark.read.format("panorama").option("version", v_before).load(t.root)
    assert old.schema == v1.to_struct()
    assert _sorted(old) == _sorted(t.read(version=v_before))


# ------------------------------------------------------- planning guard


def _called(node) -> set[str]:
    return {
        c.func.id if isinstance(c.func, ast.Name) else getattr(c.func, "attr", None)
        for c in ast.walk(node)
        if isinstance(c, ast.Call)
    }


def test_reads_are_planned_only_in_lakehouse():
    """The data source executes the plans ``SnapshotLog.resolve``,
    ``plan_state_files`` and ``plan_changes`` make; ``LakeTable`` runs
    the same ones. A pruning or snapshot-resolution call in the source
    would be a second planner that drifts. Its writer resolves the
    current snapshot it writes under (``_writer_plan``)."""
    planning = {
        "files_in_buckets", "_prune_files_for_state", "key_hash_pruning",
        "sidecar_file_filter", "snapshot_file_delta", "is_delta_append_range",
        "snapshot_changed_buckets", "resolve_ref", "read_version", "read_current",
    }
    with open(os.path.join(PKG, "sources", "panorama_datasource.py")) as fh:
        tree = ast.parse(fh.read())
    sites = set()
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            sites |= {(fn.name, name) for name in _called(fn) & planning}
    assert sites == {("_writer_plan", "read_current")}

    def resolves_current(node) -> bool:
        return "read_current" in _called(node) or any(
            isinstance(n, ast.Attribute) and n.attr == "snapshot" for n in ast.walk(node)
        )

    ternaries = []
    for dirpath, _dirs, names in os.walk(PKG):
        for name in names:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name)) as fh:
                    tree = ast.parse(fh.read())
                ternaries += [
                    ast.unparse(n)
                    for n in ast.walk(tree)
                    if isinstance(n, ast.IfExp)
                    and any(
                        "read_version" in _called(one) and resolves_current(other)
                        for one, other in ((n.body, n.orelse), (n.orelse, n.body))
                    )
                ]
    assert ternaries == []
