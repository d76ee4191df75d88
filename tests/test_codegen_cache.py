"""The codegen class cache holds the engine's working set: a query set
run again compiles no generated class again (process_spark.session
docstring). At Spark's default cap of 100 entries a warm pass of these
two queries evicts every class before reusing it, so the third run
below would compile as much as the first."""

from __future__ import annotations

from process_spark.queries import REGISTRY
from process_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles

SF_SMALL = "/root/testdata/sf0.001"
QUERIES = ("retrieval_e2e_stored", "pipeline_minhash_dedup_components")


def test_session_sizes_codegen_cache(spark):
    got = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert got == str(CODEGEN_CACHE_ENTRIES)


def test_third_run_compiles_nothing(spark):
    compiles = []
    for _ in range(3):
        before = codegen_compiles(spark)
        for name in QUERIES:
            REGISTRY[name].fn(spark, SF_SMALL).collect()
        compiles.append(codegen_compiles(spark) - before)
    # The second run may still compile a few classes whose generated
    # source differs from the first run's; the third repeats the second.
    assert compiles[0] > 0, compiles
    assert compiles[2] == 0, compiles
