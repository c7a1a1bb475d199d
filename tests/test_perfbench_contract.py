"""The streaming benchmark's traced run against the current program.

``perfbench/run.py --trace 1`` wraps, by name, every pipeline method
it measures (``TrafficPipeline.process_batch``/``metric_stats_fused``/
``geofence_matches``/``anomalies``, ``model.update``,
``KeyedUpsertStore.upsert``/``.join``) and calls ``payloads.*``,
``read_geofences`` and ``decode_json_stream`` directly.  Running it
here at smoke scale (the flags of ``perfbench/test_smoke.py``) makes a
rename or reshape of any of those a tier-1 failure, not only a
benchmark failure.
"""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO


def test_traced_attach_churn_smoke_is_correct():
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", "attach_churn",
            "--seed", "7", "--trace", "1", "--scale", "0.04",
            "--max-batches", "2", "--seconds", "60",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["failed"] == 0
