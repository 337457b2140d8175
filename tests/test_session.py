"""The session factory's conf placement: what ``apply_runtime_conf`` sets
on any session must be settable at runtime, and what only a new JVM can
take (the codegen cache size) is set by ``get_spark``'s builder."""

from __future__ import annotations

from logstream_processing_service_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    RUNTIME_CONF,
)


def test_runtime_conf_keys_are_runtime_modifiable(spark):
    """``apply_runtime_conf`` swallows a refused ``conf.set``, so a static
    conf placed in ``RUNTIME_CONF`` would be dropped without a word on a
    session made elsewhere."""
    static = [k for k in RUNTIME_CONF if not spark.conf.isModifiable(k)]
    assert not static, static


def test_get_spark_sizes_the_codegen_cache(spark):
    assert not spark.conf.isModifiable("spark.sql.codegen.cache.maxEntries")
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
