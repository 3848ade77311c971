"""session.local_frame builds the same frame as createDataFrame(<list>),
without a PythonRDD behind it; and no package code builds a frame from a
Python list any other way."""

import ast
import datetime
import pathlib

import pytest
from pyspark.sql import types as T

from named_entity_discovery_and_linking_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "named_entity_discovery_and_linking_spark"

_NESTED = T.StructType([
    T.StructField("id", T.StringType(), False),
    T.StructField("ts", T.TimestampType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ])),
])

_UTC = datetime.timezone.utc

# every schema shape the package hands to local_frame
CASES = {
    "int_string": ("pos int, ont_id string", [(0, "a"), (1, "b"), (2, None)]),
    "long_double": ("n_rows long, wall_s double",
                    [(2**40, 0.125), (None, 1e-300), (-1, None)]),
    "lineage": ("bucket int, stage string, status string, n_rows long, run_id string",
                [(b, "mentions", "done", b * 3, "run-1") for b in range(64)]),
    "array_string": ("url string, ctx_tokens array<string>",
                     [("q://0", [""]), ("q://1", ["a", None, "b"]), ("q://2", None), ("q://3", [])]),
    "array_double": ("cell int, centroid array<double>", [(0, [0.5, -1.0]), (1, [0.0, 2.25])]),
    "binary": ("k string, payload binary", [("x", b"\x00\xff"), ("y", None), ("z", b"")]),
    "all_null": ("a string, b int", [(None, None)]),
    "zero_rows_ddl": ("eid string, alias string", []),
    "zero_rows_struct": (_NESTED, []),
    "struct_type": (_NESTED, [
        ("m0", datetime.datetime(2014, 7, 1, 0, 0, 37, tzinfo=_UTC), b"\x01" * 8,
         {"width": 64, "codec": "png"}),
        ("m1", None, None, None),
        ("m2", datetime.datetime(2014, 7, 1, 1, 2, 3), b"", {"width": None, "codec": "pcm"}),
    ]),
    "dict_rows": ("url string, lang string, n int",
                  [{"url": "u1", "lang": "eng", "n": 1}, {"url": "u2", "n": 2}]),
}


@pytest.fixture()
def no_arrow_fallback(spark):
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, old)


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(no_arrow_fallback, case):
    spark = no_arrow_fallback
    schema, rows = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()  # same rows in the same order
    # the rows live in the JVM: no Python worker unpickles them on a read
    assert "PythonRDD" in _rdd_lineage(want)
    assert "PythonRDD" not in _rdd_lineage(got)
    assert "LocalRelation" in got._jdf.queryExecution().analyzed().toString()


def test_local_frame_hide_size(no_arrow_fallback):
    """hide_size: the same rows from a JVM RDD of Arrow batches whose size
    the optimizer does not know, still with no Python worker behind it; the
    session's threshold is left as it was."""
    spark = no_arrow_fallback
    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key)
    schema, rows = CASES["struct_type"]
    got = local_frame(spark, rows, schema, hide_size=True)
    assert spark.conf.get(key) == before
    assert got.schema == spark.createDataFrame(rows, schema).schema
    assert got.collect() == local_frame(spark, rows, schema).collect()
    qe = got._jdf.queryExecution()
    assert "LogicalRDD" in qe.analyzed().toString()
    assert "PythonRDD" not in _rdd_lineage(got)
    assert qe.optimizedPlan().stats().sizeInBytes() == 2**63 - 1  # unknown
    small = local_frame(spark, rows, schema)._jdf.queryExecution()
    assert small.optimizedPlan().stats().sizeInBytes() < 2**20


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 fields, schema has 3"):
        local_frame(spark, [(1, "a", "b"), (2, "c")], "a int, b string, c string")


def _create_dataframe_calls(tree: ast.AST, exempt: str | None = None):
    """Line numbers of ``.createDataFrame(...)`` calls in ``tree``, except
    those inside the function named ``exempt``."""
    allowed = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef) and n.name == exempt:
            allowed.update(id(c) for c in ast.walk(n))
    return [
        n.lineno for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "createDataFrame" and id(n) not in allowed
    ]


def test_no_list_built_frames_outside_local_frame():
    """Package code builds driver-side frames with session.local_frame.
    Any other createDataFrame call fails here, list or not: whether an
    argument is a Python list is not decidable from the source, and the
    package has no other use for the call."""
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        for line in _create_dataframe_calls(
            ast.parse(path.read_text(), filename=str(path)),
            exempt="local_frame" if path.name == "session.py" else None,
        )
    ]
    assert offenders == [], "createDataFrame outside session.local_frame: " + ", ".join(offenders)


def test_guard_sees_every_create_dataframe_call():
    src = (
        "rows = [(1,)]\n"
        "a = spark.createDataFrame([(1,)], 'x int')\n"
        "b = spark.createDataFrame(rows, 'x int')\n"
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(table, schema)\n"
        "c = df.sparkSession.createDataFrame(list(m.items()), 'k string, v string')\n"
    )
    tree = ast.parse(src)
    assert sorted(_create_dataframe_calls(tree)) == [2, 3, 5, 6]
    assert sorted(_create_dataframe_calls(tree, exempt="local_frame")) == [2, 3, 6]
