"""One change-feed classification per engine (``lakehouse/feed.py``).

The four entry points — ``changes()`` on its merge-on-read fast path,
the ``_changes_diff`` state diff, and the ``format("panorama")`` batch
feed on a merge-on-read range and on a diff range — are checked against
an independent dict-replay model, not against each other. The histories
put NULL in each key column and in both: update, no-op update, delete,
delete-then-re-insert, a ghost delete, stale late events, a range across
``alter_schema`` and a range containing a compaction.
"""

import os
import re

import pytest

from panorama_elt_spark.cdc.merge import merge_batch
from panorama_elt_spark.lakehouse import Field, LakeTable, TableSchema
from panorama_elt_spark.lakehouse.schema import apply_alters, diff_schemas
from panorama_elt_spark.lakehouse.snapshot import (
    is_delta_append_range,
    snapshot_file_delta,
)
from panorama_elt_spark.sources.panorama_datasource import PanoramaDataSource

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "panorama_elt_spark"
)

SCHEMA = TableSchema(
    [Field(1, "repo", "string"), Field(2, "n", "bigint"), Field(3, "content", "string")],
    schema_version=1,
)
V2 = TableSchema(
    [
        Field(1, "repo", "string"),
        Field(2, "n", "bigint"),
        Field(3, "content", "string"),
        Field(4, "stars", "bigint", True, 0),
    ],
    schema_version=2,
)
KEYS = ["repo", "n"]
DDL1 = "lsn long, op string, repo string, n long, content string"
DDL2 = DDL1 + ", stars long"


class Model:
    """Dict replay of last-writer-wins: key -> (lsn, op, payload)."""

    def __init__(self):
        self.rows = {}
        self.states = {}  # table version -> visible {key: payload dict}

    def apply(self, events, payload_cols):
        for lsn, op, repo, n, *vals in events:
            key = (repo, n)
            if key not in self.rows or lsn > self.rows[key][0]:
                self.rows[key] = (lsn, op, dict(zip(payload_cols, vals)))

    def record(self, version):
        self.states[version] = {
            k: p for k, (_lsn, op, p) in self.rows.items() if op != "D"
        }

    def changes(self, v_from, v_to, schema):
        payload = [f for f in schema.fields if f.name not in KEYS]

        def project(p):
            return tuple(p.get(f.name, f.default) for f in payload)

        old, new = self.states[v_from], self.states[v_to]
        rows = []
        for k in set(old) | set(new):
            if k not in old:
                rows.append((*k, "I", *project(new[k])))
            elif k not in new:
                rows.append((*k, "D", *[None] * len(payload)))
            elif project(old[k]) != project(new[k]):
                rows.append((*k, "U", *project(new[k])))
        return sorted(rows, key=repr)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _ds_feed(spark, root, v_from, v_to):
    return (
        spark.read.format("panorama")
        .option("changes_from", v_from)
        .option("changes_to", v_to)
        .load(root)
    )


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    spark.dataSource.register(PanoramaDataSource)
    # two buckets: ("0", 0) shares one with (None, None) and (None, 0)
    # with ("0", None), so an Arrow join that lost its is_null flags
    # (the fill values are "0" and 0) would match them
    t = LakeTable.create(
        spark, str(tmp_path_factory.mktemp("feed") / "t"), SCHEMA, KEYS, n_buckets=2
    )
    m = Model()
    v = {}

    def batch(name, events, *, strategy, ddl=DDL1, schema=SCHEMA):
        merge_batch(t, spark.createDataFrame(events, ddl), batch_id=name, strategy=strategy)
        m.apply(events, [f.name for f in schema.fields if f.name not in KEYS])
        v[name] = t.snapshot.version
        m.record(v[name])

    batch(
        "seed",
        [
            (1, "I", None, 1, "a"),
            (2, "I", None, 2, "b"),
            (3, "I", None, 3, "c"),
            (4, "I", None, 4, "d"),
            (5, "I", "r", None, "e"),
            (6, "I", None, None, "f"),
            (7, "I", "0", 0, "g"),
            (8, "I", None, 0, "j"),
            (9, "I", "0", None, "k"),
            (100, "I", "r", 5, "s"),
        ],
        strategy="fused",
    )
    batch(
        "d1",
        [
            (10, "U", None, 1, "a2"),
            (11, "U", None, 2, "b"),  # no-op update
            (12, "D", None, 3, None),
            (13, "D", None, 4, None),  # re-inserted by d2
            (14, "U", "r", None, "e2"),
            (15, "U", None, None, "f2"),
            (16, "D", None, 99, None),  # ghost delete
            (17, "U", "r", 5, "late"),  # older than the stored LSN 100
            (18, "I", None, 7, "h"),
            (19, "U", "0", 0, "g2"),
            (22, "U", None, 0, "j2"),
        ],
        strategy="append_delta",
    )
    batch(
        "d2",
        [
            (20, "I", None, 4, "d2"),
            (21, "D", None, None, None),
            (5, "U", None, 1, "stale"),  # older than d1's LSN 10
        ],
        strategy="append_delta",
    )
    t.alter_schema(apply_alters(SCHEMA, diff_schemas(SCHEMA, V2), 2))
    m.record(t.snapshot.version)
    batch(
        "d3",
        [(30, "U", None, 1, "a3", 7), (31, "I", None, 8, "i", 1)],
        strategy="append_delta",
        ddl=DDL2,
        schema=V2,
    )
    assert t.compact() > 0
    v["compact"] = t.snapshot.version
    m.record(v["compact"])
    batch(
        "f1",
        [
            (40, "U", None, 2, "b2", 0),
            (41, "D", "r", None, None, None),
            (42, "U", None, 7, "h", 0),  # no-op once projected (stars default 0)
            (43, "I", None, None, "f3", 2),
        ],
        strategy="fused",
        ddl=DDL2,
        schema=V2,
    )
    return t, m, v


RANGES = [
    ("seed", "d1", True),
    ("d1", "d2", True),
    ("seed", "d3", True),  # across alter_schema, delete then re-insert
    ("seed", "compact", False),
    ("compact", "f1", False),
]


@pytest.mark.parametrize("a,b,mor", RANGES, ids=[f"{a}-{b}" for a, b, _ in RANGES])
def test_null_key_feed_matches_model_on_every_entry_point(spark, history, a, b, mor):
    t, m, v = history
    v_from, v_to = v[a], v[b]
    snap_from, snap_to = t.log.read_version(v_from), t.log.read_version(v_to)
    assert is_delta_append_range(*snapshot_file_delta(snap_from, snap_to)) == mor
    schema = V2 if snap_to.schema.schema_version == 2 else SCHEMA
    exp = m.changes(v_from, v_to, schema)
    assert exp  # every range changes something
    assert _rows(t.changes(v_from, v_to)) == exp, "changes()"
    assert _rows(t._changes_diff(snap_from, snap_to)) == exp, "_changes_diff"
    assert _rows(_ds_feed(spark, t.root, v_from, v_to)) == exp, "format('panorama')"


def test_overwrite_range_is_not_stale_guarded(spark, tmp_path):
    """``overwrite`` stamps its rows LSN -1, below every merged row: the
    diff path must classify them as they are, not drop them as stale."""
    spark.dataSource.register(PanoramaDataSource)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, n_buckets=4)
    merge_batch(
        t,
        spark.createDataFrame(
            [(10, "I", "r", 1, "a"), (11, "I", "r", 2, "b"), (12, "I", "r", 3, "c")], DDL1
        ),
        batch_id="seed",
        strategy="fused",
    )
    v1 = t.snapshot.version
    t.overwrite(
        spark.createDataFrame(
            [("r", 1, "a2"), ("r", 2, "b"), ("r", 4, "d")], "repo string, n long, content string"
        )
    )
    exp = [("r", 1, "U", "a2"), ("r", 3, "D", None), ("r", 4, "I", "d")]
    assert _rows(t.changes(v1)) == exp
    assert _rows(_ds_feed(spark, t.root, v1, t.snapshot.version)) == exp


def test_update_classification_lives_only_in_feed_module():
    """Emitting ``'U'`` is the change-feed classification; a second copy
    would drift from ``lakehouse/feed.py``. ``cdc/generator.py`` draws
    synthetic U *events* for test logs and classifies nothing."""
    patterns = {
        "jvm": re.compile(r"F\.lit\(\s*[\"']U[\"']\s*\)"),
        "arrow": re.compile(r"pa\.scalar\(\s*[\"']U[\"']\s*\)"),
    }
    hits = {engine: {} for engine in patterns}
    for sub in ("cdc", "lakehouse", "sources"):
        for dirpath, _dirs, names in os.walk(os.path.join(PKG, sub)):
            for name in names:
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    with open(path) as fh:
                        text = fh.read()
                    for engine, pattern in patterns.items():
                        n = len(pattern.findall(text))
                        if n:
                            hits[engine][os.path.relpath(path, PKG)] = n
    feed = os.path.join("lakehouse", "feed.py")
    assert hits["jvm"] == {feed: 1, os.path.join("cdc", "generator.py"): 1}
    assert hits["arrow"] == {feed: 1}
