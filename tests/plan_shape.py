"""Physical-plan reader shared by the plan-shape tests."""

from __future__ import annotations

import contextlib
import io
import re


def plan_nodes(df) -> list[tuple[str, str]]:
    """(operator name, detail section) for every numbered operator of
    ``df.explain("formatted")``, in plan-id order."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return [
        (sec.split(None, 1)[0], sec)
        for sec in re.split(r"\n\(\d+\) ", buf.getvalue())[1:]
    ]
