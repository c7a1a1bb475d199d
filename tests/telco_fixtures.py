"""Deterministic telco-domain fixtures (FIXTURES.md §A): attach and
celltower event JSONL files + a geofence JSON side input, with
malformed lines and unmatched bearers to exercise drop semantics."""

from __future__ import annotations

import json
import os
import random

BASE_TS = 1_700_000_000_000  # epoch millis

GEOFENCES = [
    {
        "name": "центр",
        "path": "enc0",
        "polygon": [
            {"lat": 50.0, "lng": 4.0},
            {"lat": 51.0, "lng": 4.0},
            {"lat": 51.0, "lng": 5.0},
            {"lat": 50.0, "lng": 5.0},
        ],
    },
    {
        "name": "west",
        "path": "enc1",
        "polygon": [
            {"lat": 50.2, "lng": 2.5},
            {"lat": 51.5, "lng": 3.2},
            {"lat": 50.1, "lng": 3.9},
        ],
    },
]


def make_subscriber(i: int) -> dict:
    return {
        "id": i,
        "imsi": f"20601{i:010d}",
        "msisdn": f"+324{i:08d}",
        "imei": f"35{i:013d}",
        "lastName": f"Last{i}",
        "firstName": f"First{i}",
        "address": f"Street {i}",
        "city": "Brussels",
        "zip": "1000",
        "country": "BE",
    }


def write_fixtures(out_dir: str, n_subscribers: int = 20, n_events: int = 400, seed: int = 7):
    rng = random.Random(seed)
    # streaming file sources monitor directories — one dir per topic
    attach_dir = os.path.join(out_dir, "attach")
    cell_dir = os.path.join(out_dir, "celltower")
    os.makedirs(attach_dir, exist_ok=True)
    os.makedirs(cell_dir, exist_ok=True)
    attach_path = os.path.join(attach_dir, "attach.jsonl")
    cell_path = os.path.join(cell_dir, "celltower.jsonl")
    geo_path = os.path.join(out_dir, "geofences.json")

    # attaches: each subscriber attaches 1-3 times; later attach wins.
    attaches = []
    with open(attach_path, "w") as fh:
        for i in range(n_subscribers):
            for rep in range(rng.randint(1, 3)):
                ev = {
                    "bearerId": f"bearer-{i}",
                    "subscriber": make_subscriber(i + 1000 * rep),
                    "topic": "attach-topic",
                    "ts": BASE_TS + rep * 60_000 + i,
                }
                attaches.append(ev)
                fh.write(json.dumps(ev) + "\n")
            if i % 7 == 0:
                fh.write("{malformed json line\n")

    # celltower events: mostly known bearers, some unknown (drop on join)
    cells = []
    with open(cell_path, "w") as fh:
        for j in range(n_events):
            known = rng.random() > 0.1
            bearer = f"bearer-{rng.randrange(n_subscribers)}" if known else f"ghost-{j}"
            ev = {
                "celltower": {
                    "mcc": 206,
                    "mnc": 10,
                    "cell": j % 50,
                    "area": j % 5,
                    "location": {
                        "lat": 49.5 + rng.random() * 2.0,
                        "lng": 2.0 + rng.random() * 4.0,
                    },
                },
                "bearerId": bearer,
                "metrics": {
                    "rtt": rng.random() * 100,
                    "byteLoss": rng.random() * 10,
                    "jitter": rng.random() * 5,
                },
                "topic": "celltower-topic",
                "ts": BASE_TS + j * 500,
            }
            cells.append(ev)
            fh.write(json.dumps(ev) + "\n")
            if j % 31 == 0:
                fh.write("not json at all\n")

    with open(geo_path, "w") as fh:
        json.dump(GEOFENCES, fh)

    return {
        "attach_path": attach_dir,
        "cell_path": cell_dir,
        "geo_path": geo_path,
        "attaches": attaches,
        "cells": cells,
    }


def fixture_lines(spark, fx: dict):
    """The JSON lines of both fixture topics as ONE text stream (attach
    lines unioned with celltower lines): TrafficPipeline.run's input."""
    return spark.readStream.text(fx["attach_path"]).union(
        spark.readStream.text(fx["cell_path"])
    )


def latest_attach_by_bearer(attaches: list[dict]) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for ev in attaches:
        cur = out.get(ev["bearerId"])
        if cur is None or ev["ts"] >= cur["ts"]:
            out[ev["bearerId"]] = ev
    return out


def point_in_polygon_py(px: float, py: float, poly: list[dict]) -> bool:
    n = len(poly)
    inside = False
    for i in range(n):
        yi, xi = poly[i]["lat"], poly[i]["lng"]
        yj, xj = poly[(i + 1) % n]["lat"], poly[(i + 1) % n]["lng"]
        if ((yi > py) != (yj > py)) and (px < (xj - xi) * (py - yi) / (yj - yi) + xi):
            inside = not inside
    return inside
