"""Physical-plan inspection helpers.

The 100 TB contract is enforced here: tests assert that dimension joins
broadcast, that filters reach the parquet scan, and that Python never
appears in a hot path — not by eyeballing `.explain()` output but
programmatically, so a regression that silently de-broadcasts a join or
breaks pushdown fails CI.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def normalize_plan(plan: str) -> str:
    """Strip run noise from a formatted plan so one plan shape yields one
    text across sessions, runs and data directories — the input every
    plan fingerprint (md5, exchange counts) is computed from."""
    # expression ids, plan ids and exchange ids are session counters
    p = re.sub(r"#\d+", "#", plan)
    p = re.sub(r"plan_id=\d+", "plan_id=", p)
    p = re.sub(r"\[id=#?\d*\]", "", p)
    # data locations, not just temp dirs: the same query over two
    # directories (a scaled copy, a regenerated test-data tree) is one plan
    p = re.sub(r"file:[\w\-./=]*", "<path>", p)
    p = re.sub(r"/tmp/[\w\-./=]*", "<path>", p)
    p = re.sub(r"(?:/[\w\-.]+)*/testdata/[\w\-./=]*", "<path>", p)
    # lambda variables carry a session-global counter (x_5, x_7, ...)
    p = re.sub(r"lambda [a-zA-Z]+_\d+#", "lambda v#", p)
    # localCheckpoint and Python-created scans embed the session-global
    # RDD id (MapPartitionsRDD[159])
    p = re.sub(r"RDD\[\d+\]", "RDD[]", p)
    # a checkpoint's recorded call site flips between
    # 'NativeMethodAccessorImpl.java:0' and '<unknown>:0' once the JVM JIT
    # replaces the reflective py4j accessor mid-session. [^,\n], not [^,]:
    # a negated class without \n matches across lines and would swallow
    # the next plan line up to its first comma, masking real diffs there.
    p = re.sub(r"localCheckpoint at [^,\n]*", "localCheckpoint at <site>", p)
    # the same accessor swap on createDataFrame scans (Scan ExistingRDD)
    p = re.sub(
        r"applySchemaToPythonRDD at [^,\n]*", "applySchemaToPythonRDD at <site>", p
    )
    # q30/q51 catalog tables are named <table>_bkt_/_cbo_ + md5(sf_dir): a
    # path-derived key in the scan node title, normalized like the paths
    p = re.sub(r"_(bkt|cbo)_[0-9a-f]{6,12}", r"_\1_<key>", p)
    return p


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the formatted plan."""
    plan = formatted_plan(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "PushedFilters" in line)


def scans_columns(df: DataFrame) -> str:
    """ReadSchema line(s) — verifies column pruning reached the scan."""
    plan = formatted_plan(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "ReadSchema" in line)


def has_python_eval(df: DataFrame) -> bool:
    """True when the plan contains a Python-worker stage (UDF boundary)."""
    plan = formatted_plan(df)
    return "BatchEvalPython" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan


def codegen_stage_count(df: DataFrame) -> int:
    return formatted_plan(df).count("WholeStageCodegen")
