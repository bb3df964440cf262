"""engine.rows.local_frame — the one builder of DataFrames from the
driver's own Python rows: every such frame in the package goes through
it, it equals the list path's frame for every shape the package builds,
and it runs no Spark job."""

import ast
from pathlib import Path

import pytest

from uniparser_spark.crawl.engine import FRONTIER_SCHEMA, RECORDS_SCHEMA, SEEN_SCHEMA
from uniparser_spark.engine.rows import local_frame

PKG = Path(__file__).resolve().parents[1] / "uniparser_spark"

SEED_DDL = "url string, priority double, depth int, parent_url string, list_index int, discovered_round int"
ROBOTS_DDL = "host string, crawl_delay double, disallow array<string>, allow array<string>"

SHAPES = {
    "seed": (
        [("https://a.example/", 0.0, 0, None, 0, 0), ("https://b.example/x", 0.0, 0, None, 1, 0)],
        SEED_DDL,
    ),
    "robots": (
        [
            ("h0.example.org", 1.0, ["/a/"], ["/a/b/"]),
            ("h2.example.org", 1.0, ["/c/*"], ["/c/z/1*"]),
            ("h3.example.org", 1.0, ["/a/x/*0$"], []),
        ],
        ROBOTS_DDL,
    ),
    "strings": ([("tracker.example",), ("bad.org",), ("sub.tracker.example",)], "domain string"),
    "empty_seen": ([], SEEN_SCHEMA),
    "empty_frontier": ([], FRONTIER_SCHEMA),
    "empty_records": ([], RECORDS_SCHEMA),
}


def _create_calls() -> list:
    """``module:line`` of every ``createDataFrame`` call in the package
    outside ``local_frame``."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        inside = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
            for node in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", getattr(node.func, "id", None)) == "createDataFrame"
                and id(node) not in inside
            ):
                out.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    return out


def test_driver_rows_go_through_local_frame():
    calls = _create_calls()
    assert not calls, "build driver-side frames with engine.rows.local_frame:\n" + "\n".join(calls)


def _shape(df) -> list:
    return [(f.name, f.dataType, f.nullable) for f in df.schema]


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_local_frame_equals_the_list_path(spark, name):
    rows, schema = SHAPES[name]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _shape(got) == _shape(want)
    assert got.collect() == want.collect()


def test_none_in_a_non_nullable_field_raises(spark):
    row = (None, "a", 1, "h", 0.0, 0, None, 0, 0)
    with pytest.raises(ValueError, match="url"):
        local_frame(spark, [row], FRONTIER_SCHEMA)


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_frames_collect_without_a_spark_job(spark):
    rows, schema = SHAPES["seed"]
    assert _jobs(spark, "local_frame_empty", local_frame(spark, [], FRONTIER_SCHEMA).collect) == 0
    assert _jobs(spark, "local_frame_rows", local_frame(spark, rows, schema).collect) == 0
    # the counter sees jobs: the list path pickles its rows through tasks
    assert _jobs(spark, "list_path_rows", spark.createDataFrame(rows, schema).collect) > 0
