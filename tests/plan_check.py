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


def exchange_arguments(plan: str) -> dict[int, str]:
    """The Arguments line of every Exchange, by operator id."""
    return {int(m.group(1)): m.group(2) for m in re.finditer(
        r"\((\d+)\) Exchange\nInput \[\d+\]: \[[^\]]*\]\nArguments: ([^\n]*)",
        plan)}


def exchange_below(plan: str, node: str) -> int | None:
    """Id of the first Exchange under the first *node* operator of the
    plan tree (the formatted plan's top section), or None."""
    tree = plan.split("\n\n", 1)[0].splitlines()
    for i, line in enumerate(tree):
        m = re.search(rf"\b{node} \(\d+\)$", line)
        if not m:
            continue
        depth = m.start()
        for below in tree[i + 1:]:
            e = re.search(r"(\w+) \((\d+)\)$", below)
            if e.start() <= depth:
                return None
            if e.group(1) == "Exchange":
                return int(e.group(2))
        return None
    return None
