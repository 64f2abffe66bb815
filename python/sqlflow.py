#!/usr/bin/env python3
"""PySpark front-end for the graft lineage engine.

Mirrors the reference plugin's Python API (reference: python/sqlflow.py):
``@auto_tracking`` registers the DataFrames a pipeline stage returns as temp
views named after the function, so catalog-mode lineage connects DataFrame
chains across stages; ``save_data_lineage`` / ``export_data_lineage_into``
drive the JVM-side ``org.apache.spark.api.python.SQLFlowApi`` over py4j.

Differences from the reference, on purpose:
  - decorators work on plain functions as well as methods (the reference
    assumed a ``self`` first argument);
  - ``graph_sink`` accepts ``graphviz | adjacency_list | mermaid | cypher``;
  - ``export_data_lineage_into`` maps ``neo4jaura`` to the Cypher file sink
    (this build has no network egress — the statement stream is equivalent
    and loadable offline).
"""

import functools
import inspect
import os
import uuid
from typing import Any, Dict, List

from pyspark.sql import DataFrame, SparkSession


def _logger() -> Any:
    from logging import getLogger, NullHandler, INFO
    log = getLogger(__name__)
    log.setLevel(INFO)
    log.addHandler(NullHandler())
    return log


_log = _logger()


def _jvm_api() -> Any:
    spark = SparkSession.builder.getOrCreate()
    return spark.sparkContext._jvm.org.apache.spark.api.python.SQLFlowApi


def _options_string(options: Dict[str, str]) -> str:
    return ",".join(f"{k}={v}" for k, v in options.items())


def _view_exists(name: str) -> bool:
    session = SparkSession.getActiveSession()
    if session is None:
        return False
    try:
        session.table(name)
        return True
    except Exception:
        return False


def _dataframes_in(value: Any) -> List[DataFrame]:
    """DataFrames carried by a return value: bare, or inside list/tuple/dict."""
    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, (list, tuple)):
        return [v for v in value if isinstance(v, DataFrame)]
    if isinstance(value, dict):
        return [v for v in value.values() if isinstance(v, DataFrame)]
    return []


def _register_tracking_views(dfs: List[DataFrame], name: str) -> None:
    for df in dfs:
        ident = name
        if _view_exists(ident):
            # never clobber an existing view: uniquify like the reference
            ident = f"{name}_{uuid.uuid4().hex[:7]}"
        df.createOrReplaceTempView(ident)
        _log.info("Automatically tracking: %s(%s)", ident, ",".join(df.columns))


def _tracking_enabled() -> bool:
    return os.environ.get("SQLFLOW_AUTO_TRACKING_DISABLED") is None


def _track_result(f: Any, name: str, args: Any, kwargs: Any, ret: Any) -> None:
    if not _tracking_enabled():
        return
    dfs = _dataframes_in(ret)
    if not dfs:
        # a stage that returns nothing still gets its INPUT frames tracked
        bound = inspect.signature(f).bind(*args, **kwargs)
        dfs = _dataframes_in(list(bound.arguments.values()))
    _register_tracking_views(dfs, name)


def auto_tracking(f):  # type: ignore
    """Track every DataFrame returned by ``f`` as temp view ``f.__name__``."""
    @functools.wraps(f)
    def wrapper(*args, **kwargs):  # type: ignore
        ret = f(*args, **kwargs)
        _track_result(f, f.__name__, args, kwargs, ret)
        return ret
    return wrapper


def auto_tracking_with(name):  # type: ignore
    """Like ``auto_tracking`` but with an explicit view name."""
    def deco(f):  # type: ignore
        @functools.wraps(f)
        def wrapper(*args, **kwargs):  # type: ignore
            ret = f(*args, **kwargs)
            _track_result(f, name, args, kwargs, ret)
            return ret
        return wrapper
    return deco


def to_data_lineage_string(graph_format: str = "graphviz", contracted: bool = False,
                           options: Dict[str, str] = {}) -> str:
    """The catalog lineage graph as a string in the given format.

    String-affecting options (e.g. ``sep`` for ``adjacency_list``) are
    honored; IO options are meaningless here and ignored.
    """
    return _jvm_api().toSQLFlowString(contracted, graph_format, _options_string(options))


def save_data_lineage(output_dir_path: str, filename_prefix: str = "sqlflow",
                      graph_sink: str = "graphviz", contracted: bool = False,
                      overwrite: bool = False) -> None:
    options = _options_string({
        "outputDirPath": output_dir_path,
        "filenamePrefix": filename_prefix,
        "overwrite": str(overwrite).lower(),
    })
    _jvm_api().saveAsSQLFlow(graph_sink, contracted, options)


def export_data_lineage_into(graph_sink: str, contracted: bool = False,
                             options: Dict[str, str] = {}) -> None:
    _jvm_api().exportSQLFlowInto(graph_sink, contracted, _options_string(options))


def impacted_by(name: str, column: str = "", contracted: bool = False) -> List[str]:
    """Schema-change impact analysis over the catalog lineage graph: the
    views / tracked queries / write targets that transitively consume
    table-or-view ``name`` (narrowed to one source ``column`` when given).
    Impact propagates through view chains; results are sorted idents."""
    return list(_jvm_api().impactedBy(name, column, contracted))


def register_sql_functions(spark: SparkSession = None) -> None:
    """Expose the engine's native SQL functions (``zorder_key``,
    ``winnow_fingerprints``, ``vec_cosine``, ``token_shingle_hashes``,
    ``minhash_signature``, ``simhash_md5``, ``normalize_text``,
    ``cdc_chunk_hashes_md5``, ``vec_srp_md5``) as session temp functions, so
    pyspark SQL can call them without the
    ``spark.sql.extensions=...GraftExtensions`` driver conf.  The
    expressions are codegen'd Catalyst natives — NOT Python UDFs — so
    there is no serialization boundary and no per-row Python cost."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession: start one or pass it explicitly")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.spark.sql.graft.functions.registerAll(spark._jsparkSession)
