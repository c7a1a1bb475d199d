"""Seeded input generator and Spark-free oracle for the streaming benchmark.

Writes, for one workload and seed, everything the program under test
reads, as files standing in for the reference's Kafka topics:

- ``seed.jsonl``: the attach events that pre-populate the bearer store;
- ``backlog/b00000.jsonl`` ...: one micro-batch per file, each spanning
  one second of event time (``ts``, the generator's creation stamp in
  epoch millis).  ``attach_churn`` files carry that interval's attach
  events followed by its celltower events, like a consumer subscribed
  to both topics;
- ``fences.json``: the geofence side input;
- ``expected.json``: per-batch message counts for each output topic,
  computed here from the generator's own records (no Spark).

Cell keys follow a Zipf skew over the towers, bearers are uniform, and
1% of all lines (seed included) are malformed, so the decoder drops
them and the enrichment join drops events whose bearer never made it
into the store.

    python3 perfbench/gen.py --workload ref_sliding --seed 1 --out DIR --batches 12
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import math
import os
import random
import time
from dataclasses import asdict, dataclass

# Epoch millis of batch 0, aligned to the 30 s window.
T0_MS = 1_700_000_010_000
BATCH_MS = 1_000
WINDOW_MS = 30_000
METRICS = ("rtt", "byteLoss", "throughput")
# output topics, in the keys of each expected batch
TOPICS = ("celltower_stats", "subscriber_stats", "geofence", "kmeans_points")
KMEANS_DIMS = ("rtt", "byteLoss")
# Belgium, where the reference's example geofences lie.
LAT0, LAT1, LNG0, LNG1 = 49.5, 51.5, 2.5, 6.4
MALFORMED_FRAC = 0.01
# share of celltower events that carry no byteLoss (kept out of K-Means)
NO_BYTELOSS_FRAC = 0.02
NEW_BEARER_FRAC = 0.3  # attach_churn: share of attach events for new bearers


@dataclass(frozen=True)
class Profile:
    events: int  # celltower lines per batch
    attaches: int  # attach lines per batch
    bearers: int  # attach lines in the store seed
    slide_ms: int | None  # None: tumbling window
    fences: int
    vertices: int
    towers: int = 2_000
    zipf_s: float = 1.0


WORKLOADS = {
    "ref_sliding": Profile(
        events=5_000, attaches=0, bearers=50_000, slide_ms=2_000,
        fences=5, vertices=6,
    ),
    "geofence_dense": Profile(
        events=5_000, attaches=0, bearers=50_000, slide_ms=None,
        fences=50, vertices=8,
    ),
    "attach_churn": Profile(
        events=1_000, attaches=10_000, bearers=100_000, slide_ms=None,
        fences=5, vertices=6,
    ),
}

_LAST = ("Peeters", "Janssens", "Maes", "Jacobs", "Mertens", "Willems", "Claes", "Goossens")
_FIRST = ("Emma", "Louis", "Olivia", "Arthur", "Louise", "Jules", "Mila", "Adam")
_CITY = ("Brussels", "Antwerp", "Ghent", "Liege", "Bruges", "Namur", "Leuven", "Mons")


def scaled(profile: Profile, scale: float) -> Profile:
    """The profile with every per-batch and store size multiplied by
    ``scale`` (the smoke test runs at about 200 events per batch)."""
    if scale == 1.0:
        return profile
    return Profile(
        events=max(20, round(profile.events * scale)),
        attaches=round(profile.attaches * scale),
        bearers=max(50, round(profile.bearers * scale)),
        slide_ms=profile.slide_ms,
        fences=profile.fences,
        vertices=profile.vertices,
        towers=max(20, round(profile.towers * scale)),
        zipf_s=profile.zipf_s,
    )


def contains(px: float, py: float, poly: list[tuple[float, float]]) -> bool:
    """Even-odd ray cast with the same operations, in the same order, as
    the unrolled literal test in ``functions/geo.py``; ``poly`` is
    [(lng, lat), ...]."""
    odd = False
    n = len(poly)
    for i in range(n):
        xi, yi = poly[i]
        xj, yj = poly[(i + 1) % n]
        if yi == yj:
            continue
        if ((yi > py) != (yj > py)) and px < (xj - xi) * (py - yi) / (yj - yi) + xi:
            odd = not odd
    return odd


def window_starts(ts: int, slide_ms: int | None) -> list[int]:
    """Starts of every 30 s window (sliding by ``slide_ms``) holding ts."""
    if slide_ms is None:
        return [ts - ts % WINDOW_MS]
    last = ts - ts % slide_ms
    return [last - k * slide_ms for k in range(WINDOW_MS // slide_ms)]


def _fences(rng: random.Random, p: Profile) -> list[dict]:
    out = []
    for f in range(p.fences):
        clat = rng.uniform(LAT0 + 0.3, LAT1 - 0.3)
        clng = rng.uniform(LNG0 + 0.3, LNG1 - 0.3)
        radius = rng.uniform(0.15, 0.45)
        angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(p.vertices))
        poly = []
        for a in angles:  # star-shaped around the centre, so never self-crossing
            r = radius * rng.uniform(0.6, 1.0)
            poly.append({
                "lat": round(clat + r * math.sin(a), 6),
                "lng": round(clng + r * 1.5 * math.cos(a), 6),
            })
        out.append({"name": f"fence-{f:02d}", "path": f"/geofences/{f}", "polygon": poly})
    return out


def _towers(rng: random.Random, p: Profile) -> list[tuple[str, float, float]]:
    """(celltower JSON, lat, lng) per tower."""
    towers = []
    for c in range(p.towers):
        lat = round(rng.uniform(LAT0, LAT1), 6)
        lng = round(rng.uniform(LNG0, LNG1), 6)
        js = (
            f'{{"mcc":206,"mnc":{1 + c % 3},"cell":{c},"area":{1000 + c // 50},'
            f'"location":{{"lat":{lat!r},"lng":{lng!r}}}}}'
        )
        towers.append((js, lat, lng))
    return towers


def _subscriber(b: int, v: int) -> str:
    return (
        f'{{"id":{b},"imsi":"2060{b:010d}","msisdn":"32{b:09d}",'
        f'"imei":"35{b:09d}{v:04d}","lastName":"{_LAST[b % 8]}",'
        f'"firstName":"{_FIRST[(b // 8) % 8]}","address":"Street {b % 997}",'
        f'"city":"{_CITY[(b // 64) % 8]}","zip":"{1000 + b % 8999}","country":"BE"}}'
    )


def _attach_line(b: int, v: int, ts: int) -> str:
    return (
        f'{{"bearerId":"bearer-{b}","subscriber":{_subscriber(b, v)},'
        f'"topic":"attach","ts":{ts}}}'
    )


def _malform(rng: random.Random, line: str) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return line[: len(line) // 2]  # truncated message
    if kind == 1:
        return line.replace('"bearerId"', '"bearer_id"', 1)  # required field missing
    return "#corrupt " + line[:16]  # not JSON at all


def _emit(rng: random.Random, out: list[str], line: str) -> bool:
    """Append ``line``, malformed with probability MALFORMED_FRAC;
    return whether it went out intact."""
    if rng.random() < MALFORMED_FRAC:
        out.append(_malform(rng, line))
        return False
    out.append(line)
    return True


def generate(workload: str, seed: int, out_dir: str, batches: int, scale: float = 1.0) -> dict:
    """Write the inputs for ``batches`` micro-batches and return the
    expected per-batch counts (also written to ``expected.json``)."""
    p = scaled(WORKLOADS[workload], scale)
    rng = random.Random(f"{workload}/{seed}")
    os.makedirs(os.path.join(out_dir, "backlog"), exist_ok=True)

    fences = _fences(rng, p)
    with open(os.path.join(out_dir, "fences.json"), "w") as fh:
        json.dump(fences, fh)
    polys = [(f["name"], [(v["lng"], v["lat"]) for v in f["polygon"]]) for f in fences]
    towers = _towers(rng, p)
    tower_hits = [sum(contains(lng, lat, poly) for _, poly in polys) for _, lat, lng in towers]
    # Zipf over a shuffled tower order, so the hot cells are scattered
    order = list(range(p.towers))
    rng.shuffle(order)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** p.zipf_s for r in range(p.towers)))

    # version[b]: latest attach version of bearer b in the store, -1 if absent
    version = [-1] * p.bearers
    lines: list[str] = []
    for b in range(p.bearers):
        if _emit(rng, lines, _attach_line(b, 0, T0_MS - 86_400_000 + b % 1000)):
            version[b] = 0
    with open(os.path.join(out_dir, "seed.jsonl"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    expected = []
    mtime = time.time() - 10 * batches
    known = p.bearers  # bearer ids handed out so far
    for i in range(batches):
        base = T0_MS + i * BATCH_MS
        lines = []
        n_attach = 0
        if p.attaches:
            n_new = round(p.attaches * NEW_BEARER_FRAC)
            chosen = rng.sample(range(known), p.attaches - n_new)
            chosen += range(known, known + n_new)
            version.extend([-1] * n_new)
            known += n_new
            for j, b in enumerate(chosen):
                # ts strictly after every earlier attach of the same bearer
                v = version[b] + 1 if version[b] >= 0 else 0
                if _emit(rng, lines, _attach_line(b, v, base + j * BATCH_MS // p.attaches)):
                    version[b] = v
                    n_attach += 1
        valid = enriched = points = count_sum = geo = 0
        cell_keys: set = set()
        sub_keys: set = set()
        for _ in range(p.events):
            c = order[bisect.bisect_left(cum, rng.random() * cum[-1])]
            b = rng.randrange(known)
            ts = base + rng.randrange(BATCH_MS)
            rtt = round(rng.lognormvariate(3.5, 0.5), 3)
            tput = round(rng.uniform(1.0, 150.0), 3)
            if rng.random() < NO_BYTELOSS_FRAC:
                metrics = f'{{"rtt":{rtt!r},"throughput":{tput!r}}}'
                n_metrics, has_dims = 2, False
            else:
                loss = round(abs(rng.gauss(0.5, 0.3)), 4)
                metrics = f'{{"rtt":{rtt!r},"byteLoss":{loss!r},"throughput":{tput!r}}}'
                n_metrics, has_dims = 3, True
            line = (
                f'{{"celltower":{towers[c][0]},"bearerId":"bearer-{b}",'
                f'"metrics":{metrics},"topic":"celltower","ts":{ts}}}'
            )
            if not _emit(rng, lines, line):
                continue
            valid += 1
            if version[b] < 0:
                continue  # inner join drops events of unknown bearers
            enriched += 1
            points += has_dims
            geo += tower_hits[c]
            starts = window_starts(ts, p.slide_ms)
            count_sum += n_metrics * len(starts)
            sub = (b, version[b])
            for s in starts:
                cell_keys.add((c, s))
                sub_keys.add((sub, s))
        path = os.path.join(out_dir, "backlog", f"b{i:05d}.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        # the file source takes files oldest first, one per trigger
        os.utime(path, (mtime + 10 * i, mtime + 10 * i))
        expected.append({
            "lines": len(lines),
            "valid_events": valid,
            "valid_attaches": n_attach,
            "enriched": enriched,
            "celltower_stats": len(cell_keys),
            "subscriber_stats": len(sub_keys),
            "stats_count_sum": count_sum,
            "geofence": geo,
            "points": points,
            "kmeans_points": 1,
        })
    result = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "profile": asdict(p),
        "seed_bearers": sum(v >= 0 for v in version[: p.bearers]),
        "batches": expected,
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(result, fh)
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    t = time.perf_counter()
    generate(a.workload, a.seed, a.out, a.batches, a.scale)
    print(f"generated {a.batches} batches in {time.perf_counter() - t:.2f} s")


if __name__ == "__main__":
    main()
