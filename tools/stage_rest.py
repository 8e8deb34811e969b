"""Stage metrics from the Spark UI REST API, shared by the skew probes
(tools/salt_probe.py, tools/paragraph_probe.py): the completed stages of
an application and the max/median task executorRunTime of one stage."""

from __future__ import annotations

import json
import urllib.request


def _rest(base: str, app_id: str, path: str):
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}{path}"
    ) as r:
        return json.load(r)


def completed_stages(base: str, app_id: str) -> dict:
    out = {}
    for s in _rest(base, app_id, "/stages?status=complete"):
        out[(s["stageId"], s["attemptId"])] = s
    return out


def task_ms(base: str, app_id: str, stage) -> tuple[float, float]:
    sid, att = stage
    d = _rest(
        base, app_id,
        f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0",
    )
    run = d["executorRunTime"]
    return float(run[1]), float(run[0])  # (max, median)
