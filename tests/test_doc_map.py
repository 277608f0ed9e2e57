"""doc_map / by_doc (operators/multimodal.py): the per-document Arrow
map and the post-map doc_id barrier, written once for every decode
query.

The barrier shape (a hashpartitioning(doc_id) exchange downstream of
the map, none upstream) is pinned here for the benched decode sites, so
Tier-1 catches a regression that only ``tools/check_plans.py --sweep``
would otherwise see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from articulation_vector_db_api_spark.operators.multimodal import by_doc, doc_map
from articulation_vector_db_api_spark.registry import load_all
from tools.check_plans import barrier_violations

SF = "/root/testdata/sf0.001"

BENCHED_BARRIER_SITES = (
    "multimodal_mp1_decode",
    "multimodal_mpeg2_decode",
    "multimodal_mpeg1_pframe_decode",
    "scan_zstd_jsonl",
    "text_html_extract",
)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", BENCHED_BARRIER_SITES)
def test_benched_site_keeps_barrier_shape(spark, name):
    plan = _formatted(load_all()[name].fn(spark, SF))
    assert barrier_violations(plan) == []


def test_doc_map_one_row_per_input_row_in_schema_order(spark):
    n = 37
    df = spark.range(n).selectExpr("id AS doc_id", "CAST(id * 2 AS STRING) AS s")
    schema = T.StructType(
        [
            T.StructField("tag", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("twice", T.LongType()),
        ]
    )

    def row(doc_id, s):  # values arrive in df.columns order
        return f"d{doc_id}", doc_id, int(s)

    out = df.repartition(3).transform(doc_map, schema, row).transform(by_doc)
    assert barrier_violations(_formatted(out)) == []  # before AQE re-plans
    assert out.columns == ["tag", "doc_id", "twice"]
    got = [tuple(r) for r in out.collect()]
    assert got == [(f"d{i}", i, 2 * i) for i in range(n)]
