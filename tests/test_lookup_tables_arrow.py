"""The small lookup tables (alias dictionary, driver-path CC labels) are
local relations built through Arrow: reading them launches no
Python-worker task."""
import pytest

from information_extraction_t5_spark.operators.canonicalize import (
    connected_components_star,
)
from information_extraction_t5_spark.operators.linking import (
    alias_df,
    alias_rows,
)


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_alias_df_runs_no_python_worker(spark):
    aliases = alias_df(spark)
    assert "PythonRDD" not in _lineage(aliases)
    assert aliases.schema.simpleString() == \
        "struct<alias:string,canonical:string>"
    assert sorted(tuple(r) for r in aliases.collect()) == sorted(
        (r["alias"], r["canonical"]) for r in alias_rows()
    )


def test_driver_path_labels_run_no_python_worker(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "x")], "src string, dst string"
    )
    labels = connected_components_star(edges)
    assert "PythonRDD" not in _lineage(labels)
    assert {tuple(r) for r in labels.collect()} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }


@pytest.mark.parametrize("ddl", ["string", "bigint", "int"])
def test_driver_path_labels_keep_id_type(spark, ddl):
    """Node ids are not assumed to be strings; zero edges (all dropped as
    NULL or self-loops) give an empty frame of the same schema."""
    conv = str if ddl == "string" else int
    edges = spark.createDataFrame(
        [(conv(3), conv(1)), (conv(2), conv(3)), (conv(5), conv(5)),
         (None, conv(4))],
        f"src {ddl}, dst {ddl}",
    )
    labels = connected_components_star(edges)
    assert labels.schema.simpleString() == \
        f"struct<node:{ddl},component:{ddl}>"
    assert sorted(tuple(r) for r in labels.collect()) == [
        (conv(1), conv(1)), (conv(2), conv(1)), (conv(3), conv(1)),
    ]
    empty = connected_components_star(edges.filter("src = dst"))
    assert empty.schema == labels.schema
    assert empty.collect() == []
    assert "PythonRDD" not in _lineage(empty)
