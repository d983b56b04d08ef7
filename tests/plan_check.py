"""Plan checks shared by the batch and stream scale guards."""

from __future__ import annotations

import contextlib
import io
import re


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def query_plan(spark, query) -> str:
    """The formatted physical plan of a StreamingQuery's last micro-batch."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return query._jsq.streamingQuery().lastExecution().explainString(mode)


def payload_exchanges(plan: str) -> int:
    """Exchanges whose input carries the ``html`` payload column (each
    formatted Exchange node lists its Input columns)."""
    return sum(
        "html" in m.group(1) for m in re.finditer(
            r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    )
