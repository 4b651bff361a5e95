"""Parse the metric strings Spark's SQL REST endpoint reports.

``/api/v1/applications/<app>/sql?details=true`` renders every node metric
as display text.  Spark 4.1 uses three shapes:

* a plain value: ``"0 ms"``, ``"1.2 s"``, ``"352.0 B"``, ``"4.6 MiB"``,
  ``"6,000"``;
* a per-task breakdown, whose first figure is the total:
  ``"total (min, med, max (stageId: taskId))\\n3.5 s (1.0 s, 1.2 s, 1.3 s
  (stage 5.0: task 6))"``;
* the same breakdown without the stage/task suffix (older releases).

``parse`` returns the total as a float in base units: seconds for times,
bytes for sizes, and the bare number for counts.
"""

from __future__ import annotations

import re

_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse(text: str) -> float:
    """Total of one SQL-metric display string, in seconds, bytes or count."""
    if text.startswith("total"):
        _, _, text = text.partition("\n")
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"not a Spark SQL metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _TIME:
        return number * _TIME[unit]
    if unit in _SIZE:
        return number * _SIZE[unit]
    raise ValueError(f"unknown unit {unit!r} in Spark SQL metric {text!r}")
