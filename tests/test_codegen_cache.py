"""``get_spark`` sizes Spark's JVM-wide cache of compiled generated code to
a whole pass, so a repeated pass of the graph loops compiles nothing.

At Spark's default of 100 entries, one pass of ``kcore_parts`` +
``ann_pq_adc_topk`` on sf0.001 generates 122 classes and every further
pass recompiled about 100 of them."""

from __future__ import annotations

import pytest

from streamprocessing_spark.engine import release_plugin_caches
from streamprocessing_spark.registry import all_specs
from streamprocessing_spark.session import codegen_compilations
from streamprocessing_spark.shared_views import release_shared_views

GRAPH_PASS = ("kcore_parts", "ann_pq_adc_topk")


def _pass(spark, sf_dir) -> int:
    """One graph_iterative-shaped pass; return the classes it compiled."""
    specs = all_specs()
    release_shared_views(spark)
    before = codegen_compilations(spark)
    for name in GRAPH_PASS:
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_plugin_caches()
    return codegen_compilations(spark) - before


def test_session_sizes_the_codegen_cache_past_the_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


@pytest.mark.slow  # two graph passes: ~28 s from a cold session
def test_a_repeated_graph_pass_compiles_no_generated_code(spark, sf_dir):
    _pass(spark, sf_dir)
    assert _pass(spark, sf_dir) == 0
