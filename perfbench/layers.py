"""Which program functions the traced run wraps, and under what span name.

Every name here is a layer boundary of ``nexusbase_spark`` or of
pyspark's reader/writer/drain. ``REQUIRED`` lists, per workload, the
spans the traced run must have recorded at least once: a patch that
missed its target (for example a module holding its own ``from ...
import`` binding) then fails the self-check instead of reading as zero.
"""

from __future__ import annotations

from tracer import TimedGuard, Tracer

REQUIRED = {
    "analytics_suite": ("queries.build", "datamodel.load_table",
                        "spark.read_parquet", "spark.plan",
                        "spark.exec.drain"),
    "nbql_serving": ("server.execute_to_json", "nbql.parse",
                     "nbql.plan_query", "engine.build", "engine.points",
                     "engine.read_guard_wait", "tagindex.resolve",
                     "spark.read_parquet", "spark.plan", "spark.exec.drain",
                     "engine.ingest_frame", "spark.write_parquet"),
    "ingest_mixed": ("server.execute_to_json", "nbql.parse",
                     "nbql.plan_query", "engine.build", "engine.points",
                     "engine.read_guard_wait", "tagindex.resolve",
                     "tagindex.append", "engine.put_batch", "engine.flush_l0",
                     "engine.delete", "spark.write_parquet",
                     "spark.read_parquet", "spark.plan", "spark.exec.drain",
                     "engine.ingest_frame"),
}


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary. Import everything first so that each
    ``from ... import`` binding already exists when it is patched."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from nexusbase_spark import datamodel, engine, server
    from nexusbase_spark.nbql import parser, planner
    from nexusbase_spark.operators import tagindex
    from nexusbase_spark.queries import all_queries

    all_queries()  # imports the extra registry modules
    import nexusbase_spark.tcp_server  # noqa: F401  (binds execute_to_json)

    tracer.patch_function(datamodel, "load_table", "datamodel.load_table")
    tracer.patch_function(datamodel, "load_points", "datamodel.load_points")
    tracer.patch_function(parser, "parse", "nbql.parse", spark_jobs=False)
    tracer.patch_function(planner, "plan_query", "nbql.plan_query")
    tracer.patch_function(planner, "plan_show", "nbql.plan_query")
    tracer.patch_function(server, "execute_to_json", "server.execute_to_json")

    eng = engine.NexusEngine
    tracer.patch_method(eng, "_dispatch", "engine.build")
    tracer.patch_method(eng, "points", "engine.points")
    tracer.patch_method(eng, "put_batch", "engine.put_batch")
    tracer.patch_method(eng, "_flush_l0_locked", "engine.flush_l0")
    tracer.patch_method(eng, "ingest_frame", "engine.ingest_frame")
    tracer.patch_method(eng, "delete_range", "engine.delete")
    tracer.patch_method(eng, "delete_series", "engine.delete")
    tracer.patch_method(
        eng, "read_guard", "engine.read_guard_wait",
        wrapper=lambda f: (lambda self: TimedGuard(
            tracer, "engine.read_guard_wait", f(self))))

    cat = tagindex.SeriesCatalog
    tracer.patch_method(cat, "resolve", "tagindex.resolve", spark_jobs=False)
    tracer.patch_method(cat, "append_points", "tagindex.append",
                        spark_jobs=False)
    tracer.patch_method(cat, "append_df", "tagindex.append")

    tracer.patch_method(DataFrameReader, "parquet", "spark.read_parquet")
    tracer.patch_method(DataFrameWriter, "parquet", "spark.write_parquet")

    def planned(name):
        def wrap(f):
            def action(self, *args, **kwargs):
                # Catalyst analysis + physical planning, then the drain
                with tracer.span("spark.plan"):
                    self._jdf.queryExecution().executedPlan()
                with tracer.span("spark.exec.drain", spark_jobs=True):
                    return f(self, *args, **kwargs)
            action.__name__ = name
            return action
        return wrap

    for action in ("collect", "count", "toPandas"):
        tracer.patch_method(DataFrame, action, "spark.exec.drain",
                            wrapper=planned(action))


def wrap_query(tracer: Tracer, fn):
    """The registered query function: its call is the DataFrame build."""
    return tracer.wrap("queries.build", fn, spark_jobs=True)
