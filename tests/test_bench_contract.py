"""Bench output contract (round-5 verdict #2): the driver's BENCH
capture keeps only the LAST ~2000 characters of bench.py's single
JSON line, so round-over-round comparability requires the FIXED
``COMPARABLE`` block — printed last — to fit that tail with margin.

Round 5 broke this by growing the then-CONTINUITY list to 102 names
(only the newest ~66 survived truncation → zero comparable rows
between BENCH_r04 and BENCH_r05).  These tests make the failure mode
impossible to reintroduce silently."""

from __future__ import annotations

import json

import bench
import __spark_entry__ as entry_mod


def test_comparable_block_fits_tail():
    """Serialized COMPARABLE block (worst-case 7-char timings like
    999.999) plus the JSON suffix after ``queries`` must stay under
    1800 chars — comfortably inside the driver's 2000-char tail."""
    block = {name: 999.999 for name in bench.COMPARABLE}
    suffix = (
        ', "sf": 0.1, "cold_total_sec": 99999.999, "runs_per_query": 3, '
        '"headline_total_sec": 99999.999, "n_queries": 999}}'
    )
    assert len(json.dumps(block)) + len(suffix) < 1800, (
        "COMPARABLE grew past the driver tail budget — do NOT extend "
        "this list; add new names to BENCH_LOCAL.json history instead"
    )


def test_comparable_is_frozen_size():
    """COMPARABLE must never grow (growth is exactly what defeated the
    round-5 fix).  Shrinking is allowed only if a query is deleted."""
    assert len(bench.COMPARABLE) <= 40


def test_comparable_names_exist_in_registry():
    qs = entry_mod.queries()
    missing = [n for n in bench.COMPARABLE if n not in qs]
    assert not missing, f"COMPARABLE references unknown queries: {missing}"


def test_comparable_has_no_duplicates():
    assert len(bench.COMPARABLE) == len(set(bench.COMPARABLE))


def test_manifest_is_source_of_truth():
    """bench.py must read COMPARABLE / HIGH_VARIANCE from the frozen
    checked-in manifest (round-6 verdict #8), and every name must
    resolve in the registry.  HIGH_VARIANCE is the ACTIVE subset:
    entries whose evidence_round is within 2 of the newest committed
    bench round (round-7 verdict #4 auto-expiry)."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    manifest = json.load(open(os.path.join(repo, "bench_manifest.json")))
    assert bench.COMPARABLE == manifest["comparable"]
    newest = bench._newest_bench_round()
    active = {
        n
        for n, meta in manifest["high_variance"].items()
        if newest - meta["evidence_round"] <= 2
    }
    assert bench.HIGH_VARIANCE == active
    qs = entry_mod.queries()
    unknown = [n for n in manifest["high_variance"] if n not in qs]
    assert not unknown, f"high_variance references unknown queries: {unknown}"


def test_high_variance_entries_not_expired():
    """Auto-expiry enforcement (round-7 verdict #4): every
    high_variance entry must carry evidence no older than 2 rounds
    behind the newest committed BENCH_LOCAL_r{N} snapshot and a
    non-empty reason.  An expired entry means its median-of-5 escape
    already stopped applying (bench.py drops it from the active set)
    — re-prove it with a fresh idle-machine probe (bump
    evidence_round, record the probe in PROGRESS.jsonl) or evict it
    from the manifest."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    manifest = json.load(open(os.path.join(repo, "bench_manifest.json")))
    newest = bench._newest_bench_round()
    expired = [
        f"{n} (evidence r{meta['evidence_round']}, newest bench r{newest})"
        for n, meta in manifest["high_variance"].items()
        if newest - meta["evidence_round"] > 2
    ]
    assert not expired, (
        "high_variance entries expired — re-prove with scripts/"
        "bench_probe.py or evict: " + ", ".join(expired)
    )
    empty = [
        n for n, meta in manifest["high_variance"].items()
        if not meta.get("reason")
    ]
    assert not empty, f"high_variance entries without evidence: {empty}"


def _load_bench(path):
    import os

    if not os.path.exists(path):
        return None
    return json.load(open(path))


def _snapshot_rounds(repo):
    """Sorted [(round, path)] of committed BENCH_LOCAL_r{N} snapshots."""
    import glob
    import os
    import re

    out = []
    for p in glob.glob(os.path.join(repo, "BENCH_LOCAL_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def test_no_unexplained_warm_regressions_vs_committed_baseline():
    """Variance-aware regression gate (round-6 verdict #1; ambient
    normalization round-8 verdict #3).

    Compares the latest local bench run (BENCH_LOCAL.json) against the
    newest committed per-round snapshot (BENCH_LOCAL_r{N}.json).  A
    query FAILS if its AMBIENT-NORMALIZED warm time regressed more
    than 1.5x AND more than 0.4 s — ambient is the controls-median
    speed ratio between the two runs (bench.snapshot_regressions), so
    a uniformly slower boot (r08: 1.13x, r09: 1.5x) no longer flags
    phantom regressions, while a single-operator regression still
    trips because the controls median ignores any one name.
    Variance handling: the baseline for each name is the MAX across
    the committed evidence (the snapshot's warm value and, when
    present, the driver-tail warm value from BENCH_r{N}.json); names
    in HIGH_VARIANCE are additionally measured as median-of-5 by
    bench.py itself.
    """
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    snaps = _snapshot_rounds(repo)
    cur = _load_bench(os.path.join(repo, "BENCH_LOCAL.json"))
    if not snaps or cur is None:
        import pytest

        pytest.skip("no committed baseline or no local bench run yet")
    rnd, snap_path = snaps[-1]
    base = json.load(open(snap_path))
    # cross-core-count runs are not comparable (r14): the driver
    # benches at 32 then 8 cores and the 8-core record can be the one
    # left in (or committed to) BENCH_LOCAL.json — comparing it
    # against a 32-core snapshot flags every wide query.  A record
    # with no "cpus" field ran on an unknown core count, so it is not
    # comparable either.
    cur_cpus, base_cpus = cur.get("cpus"), base.get("cpus")
    if cur_cpus is None or base_cpus is None or int(cur_cpus) != int(base_cpus):
        import pytest

        pytest.skip(
            f"local bench run used {cur_cpus} cores, committed "
            f"baseline used {base_cpus} — not comparable"
        )
    # lucky-baseline healing (round-11 verdict #1): a snapshot value
    # that improved >1.3x/0.2s over its predecessor with no recorded
    # improvement evidence keeps the predecessor's value as the
    # reference — one fast-window median must not convict honest runs
    heal_rnd, base_warm = bench.healed_newest_baseline()
    assert heal_rnd == rnd
    base_warm = dict(base_warm)
    # fold in the driver-tail evidence for the same round, if recorded
    drv_path = os.path.join(repo, f"BENCH_r{rnd}.json")
    if os.path.exists(drv_path):
        tail = json.load(open(drv_path)).get("tail", "")
        for m in re.finditer(r'"(\w+)":\s*([\d.]+)', tail):
            name, val = m.group(1), float(m.group(2))
            if name in base_warm:
                base_warm[name] = max(base_warm[name], val)
    # explained one-round exemptions: a deliberate feature change that
    # re-costs a query (manifest `rebaselined`) skips the compare ONLY
    # while the baseline snapshot is still the recorded round — the
    # exemption expires by itself once the next snapshot is committed
    manifest = json.load(
        open(os.path.join(repo, "bench_manifest.json"))
    )
    rebase = {
        name
        for name, meta in manifest.get("rebaselined", {}).items()
        if rnd == meta["baseline_round"]
    }
    # names with ACTIVE noise evidence that the local run measured
    # best-of-2 (its recorded high_variance list predates the entry):
    # that measurement lacks the median-of-5 protection the evidence
    # prescribes, so it cannot convict — the NEXT bench run re-arms
    # the compare with a median
    unprotected = bench.HIGH_VARIANCE - set(cur.get("high_variance", []))
    amb, regressions, needs_probe = bench.confirmed_regressions(
        base_warm,
        cur["queries"],
        cur.get("confirm_reruns", {}),
        skip=rebase | unprotected,
    )
    if needs_probe:
        # confirm pass ran on a loaded host (ambient above the
        # ceiling): invalid evidence can neither convict nor exonerate
        # (round-10 verdict #1) — advisory only, probe on idle
        import warnings

        warnings.warn(
            "bench confirm pass was load-invalid for: "
            + "; ".join(needs_probe)
            + " — run scripts/bench_probe.py on an idle machine",
            stacklevel=1,
        )
    assert not regressions, (
        f"ambient-normalized (x{amb:.2f}) CONFIRMED warm-time "
        "regressions vs committed baseline (each either reproduced in "
        "bench.py's end-of-run confirm re-run or predates the confirm "
        "machinery; if scripts/bench_probe.py on an IDLE machine still "
        "exonerates them, add high_variance evidence): "
        + "; ".join(regressions)
    )


def test_snapshot_vs_previous_snapshot_ambient_normalized():
    """The self-baseline loophole (round-8 verdict #3): the final bench
    run of a round is committed as BOTH BENCH_LOCAL.json and
    BENCH_LOCAL_r{N}.json in one commit, so the working-tree gate
    above compares the snapshot against itself and passes trivially —
    regressions baked into the final run were never evaluated (r08
    shipped corpus_curation_pipeline 1.84x and bpe_merges 1.96x that
    way).  This gate closes it: the newest snapshot must be within
    1.5x/0.4s of its PREDECESSOR after ambient normalization.
    Applies from the first snapshot that records `ambient_ratio`
    (r09+); earlier pairs predate the controls machinery and were
    adjudicated by committed probes."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    snaps = _snapshot_rounds(repo)
    if len(snaps) < 2:
        import pytest

        pytest.skip("fewer than two committed snapshots")
    new_rnd, new_path = snaps[-1]
    prev_rnd, prev_path = snaps[-2]
    newer = json.load(open(new_path))
    if "ambient_ratio" not in newer:
        import pytest

        pytest.skip(
            f"snapshot r{new_rnd} predates ambient_ratio recording"
        )
    prev = json.load(open(prev_path))
    manifest = json.load(open(os.path.join(repo, "bench_manifest.json")))
    # skip documented noise: names active in high_variance at the newer
    # round, plus rebaselined entries pinned to the previous round
    skip = {
        n
        for n, meta in manifest["high_variance"].items()
        if new_rnd - meta["evidence_round"] <= 2
    } | {
        n
        for n, meta in manifest.get("rebaselined", {}).items()
        if prev_rnd == meta["baseline_round"]
    }
    # lucky-baseline healing for the PREDECESSOR side too (round-11
    # verdict #1): r12 vs a lucky r11 value would flag exactly like
    # the working-tree gate did — heal r11 against r10 first
    prev_q = dict(prev["queries"])
    if len(snaps) >= 3:
        prevprev = json.load(open(snaps[-3][1])).get("queries", {})
        prev_q = bench.effective_baseline(
            prev_q, prevprev, set(prev.get("improvement_evidence", {}))
        )
    # the final run of round N computes its confirm re-runs against
    # the then-newest snapshot r{N-1} — exactly this gate's baseline
    amb, regressions, needs_probe = bench.confirmed_regressions(
        prev_q,
        newer["queries"],
        newer.get("confirm_reruns", {}),
        skip=skip,
    )
    assert not needs_probe, (
        "a COMMITTED snapshot must never carry load-invalid confirm "
        "evidence — re-run bench.py on an idle host before committing: "
        + "; ".join(needs_probe)
    )
    assert not regressions, (
        f"snapshot r{new_rnd} vs r{prev_rnd}: ambient-normalized "
        f"(x{amb:.2f}) CONFIRMED regressions baked into the committed "
        "round — probe them (scripts/bench_probe.py) and either fix "
        "the operator or record high_variance/rebaselined evidence: "
        + "; ".join(regressions)
    )


def test_committed_snapshot_no_unexplained_lucky_baselines():
    """The baseline-commit gate (round-11 verdict #1): the NEWEST
    committed snapshot must not contain a name that improved more
    than bench.LUCKY_IMPROVEMENT_RATIO (and _FLOOR seconds) over its
    predecessor without recorded ``improvement_evidence`` — such a
    value is a fast-host-window median, and committing it creates the
    reference that convicts every honest later run (simhash_docs,
    five rounds of judge adjudication).  scripts/bench_median_
    snapshot.py clamps these at creation; this test makes the
    property durable on whatever gets committed.  Snapshots from
    before the machinery (r11 and older) are healed inside the gates
    instead — skip them here."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    snaps = _snapshot_rounds(repo)
    if len(snaps) < 2:
        import pytest

        pytest.skip("fewer than two committed snapshots")
    new_rnd, new_path = snaps[-1]
    if new_rnd < 12:
        import pytest

        pytest.skip(
            f"snapshot r{new_rnd} predates the luck guard; the gates "
            "heal it against its predecessor instead"
        )
    newer = json.load(open(new_path))
    prev = json.load(open(snaps[-2][1]))
    evidence = newer.get("improvement_evidence", {})
    for name, reason in evidence.items():
        assert reason.strip(), f"empty improvement evidence for {name}"
        assert name in newer["queries"], f"evidence for unknown {name}"
    lucky = bench.lucky_improvements(
        newer["queries"], prev["queries"], set(evidence)
    )
    assert not lucky, (
        "committed snapshot contains unexplained >1.3x improvements — "
        "re-merge with scripts/bench_median_snapshot.py (which clamps) "
        "or record evidence via --accept-improved: "
        + "; ".join(
            f"{n}: {p:.2f}s -> {c:.2f}s" for n, (p, c) in sorted(lucky.items())
        )
    )


def test_lucky_baseline_healing_synthetic():
    """effective_baseline / lucky_improvements on fixtures: an
    unexplained 2x improvement is healed back to the predecessor
    value, an accepted one keeps its improved value, a sub-floor
    improvement (jitter on a cheap query) and a REGRESSION are left
    alone, and names absent from the predecessor pass through."""
    prev = {"a": 1.0, "b": 1.0, "c": 0.15, "d": 1.0}
    base = {"a": 0.4, "b": 0.4, "c": 0.10, "d": 1.6, "new": 0.5}
    lucky = bench.lucky_improvements(base, prev, accepted={"b"})
    assert set(lucky) == {"a"} and lucky["a"] == (1.0, 0.4)
    healed = bench.effective_baseline(base, prev, accepted={"b"})
    assert healed == {"a": 1.0, "b": 0.4, "c": 0.10, "d": 1.6, "new": 0.5}


def test_snapshot_regressions_flags_synthetic_regression():
    """The gate helper itself, on synthetic fixtures: (a) a genuinely
    regressed name trips even when every control is stable, (b) a
    uniform 2x-slower machine (all controls 2x) does NOT flag names
    that merely follow ambient, (c) a real regression on TOP of a slow
    machine still trips, and (d) a uniformly FASTER machine is clamped
    to ambient 1.0 (a fast boot must not hide a real regression)."""
    controls = bench.CONTROLS
    prev = {c: 1.0 for c in controls}
    prev.update({"victim": 1.0, "bystander": 1.0})

    # (a) stable controls, victim 3x
    cur = {c: 1.0 for c in controls}
    cur.update({"victim": 3.0, "bystander": 1.05})
    amb, flags = bench.snapshot_regressions(prev, cur)
    assert amb == 1.0
    assert len(flags) == 1 and flags[0].startswith("victim:")

    # (b) uniform 2x machine — nothing flagged
    cur = {c: 2.0 for c in controls}
    cur.update({"victim": 2.0, "bystander": 2.1})
    amb, flags = bench.snapshot_regressions(prev, cur)
    assert amb == 2.0 and flags == []

    # (c) 2x machine AND victim regressed 4x raw (2x normalized)
    cur = {c: 2.0 for c in controls}
    cur.update({"victim": 4.0, "bystander": 2.0})
    amb, flags = bench.snapshot_regressions(prev, cur)
    assert len(flags) == 1 and flags[0].startswith("victim:")

    # (d) uniformly faster machine: ambient clamped to 1.0, a raw-2x
    # victim still trips
    cur = {c: 0.5 for c in controls}
    cur.update({"victim": 2.0, "bystander": 0.5})
    amb, flags = bench.snapshot_regressions(prev, cur)
    assert amb == 1.0
    assert len(flags) == 1 and flags[0].startswith("victim:")


def test_controls_are_valid():
    """Controls must resolve in the registry, never be high_variance
    (a noisy control poisons the ambient median), and stay >= 5 so a
    single real regression among them cannot move the median."""
    qs = entry_mod.queries()
    assert len(bench.CONTROLS) >= 5
    assert len(bench.CONTROLS) == len(set(bench.CONTROLS))
    missing = [c for c in bench.CONTROLS if c not in qs]
    assert not missing, f"controls not in registry: {missing}"
    import json as _json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    manifest = _json.load(open(os.path.join(repo, "bench_manifest.json")))
    noisy = [c for c in bench.CONTROLS if c in manifest["high_variance"]]
    assert not noisy, f"controls marked high_variance: {noisy}"


def test_confirmed_regressions_burst_fixture():
    """The burst-confirm gate on synthetic fixtures (round-9 verdict
    #1): (a) a one-sample mid-run spike whose end-of-run confirm
    re-run came back normal is NOT flagged — this host's documented
    noise mode is 2-4x bursts on a random disjoint subset that leave
    the controls median at 1.00, so ambient normalization alone
    cannot excuse it; (b) a sustained regression (confirm re-run also
    slow) IS flagged; (c) a flagged name with no confirm sample
    recorded (pre-machinery run, or past the re-run cap) keeps its
    flag — the cap can only make the gate stricter."""
    controls = bench.CONTROLS
    prev = {c: 1.0 for c in controls}
    prev.update({"burst": 1.0, "regressed": 1.0, "uncovered": 1.0})

    cur = {c: 1.0 for c in controls}
    cur.update({"burst": 3.0, "regressed": 3.0, "uncovered": 3.0})

    confirm = {"burst": 1.05, "regressed": 2.9}
    amb, flags, probe = bench.confirmed_regressions(prev, cur, confirm)
    assert amb == 1.0 and probe == []
    names = sorted(bench.flag_name(f) for f in flags)
    assert names == ["regressed", "uncovered"], flags
    by_name = {bench.flag_name(f): f for f in flags}
    assert "confirmed" in by_name["regressed"]
    assert "no confirm" in by_name["uncovered"]

    # clamp: confirm sample just UNDER the threshold exonerates
    confirm = {"burst": 1.05, "regressed": 1.3, "uncovered": 1.2}
    _, flags, probe = bench.confirmed_regressions(prev, cur, confirm)
    assert flags == [] and probe == []


def test_confirmed_regressions_load_aware_fixture():
    """Load-aware confirm evidence (round-10 verdict #1 'Done'
    criteria): (a) a confirm sample inflated by concurrent load whose
    bracketing controls are inflated EQUALLY is exonerated by its own
    confirm-time ambient — no flag; (b) a confirm taken above the
    ambient ceiling is INVALID evidence: it cannot convict (flag moves
    to needs_probe, not kept) even when the raw sample looks damning;
    (c) a credible-ambient confirm that still trips after
    normalization IS kept; (d) a genuinely regressed name measured on
    a mildly loaded confirm (ambient 1.4) is convicted once its
    normalized sample trips — mild load does not launder a real
    regression."""
    controls = bench.CONTROLS
    prev = {c: 1.0 for c in controls}
    prev.update({"loaded": 1.0, "hot": 1.0, "real": 1.0, "mild": 1.0})

    cur = {c: 1.0 for c in controls}
    cur.update({"loaded": 3.0, "hot": 3.0, "real": 3.0, "mild": 3.0})

    confirm = {
        # (a) sample 1.9 at confirm-ambient 1.9 → normalized 1.0
        "loaded": {"sample": 1.9, "ambient": 1.9, "n": 1},
        # (b) sample 13.0 at confirm-ambient 6.5 (> 2.0 ceiling):
        # the r10 driver-load shape — invalid, needs idle probe
        "hot": {"sample": 13.0, "ambient": 6.5, "n": 1},
        # (c) sample 2.9 at confirm-ambient 1.0 → normalized 2.9
        "real": {"sample": 2.9, "ambient": 1.0, "n": 3},
        # (d) sample 2.8 at confirm-ambient 1.4 → normalized 2.0
        "mild": {"sample": 2.8, "ambient": 1.4, "n": 1},
    }
    amb, flags, probe = bench.confirmed_regressions(prev, cur, confirm)
    assert amb == 1.0
    kept = sorted(bench.flag_name(f) for f in flags)
    assert kept == ["mild", "real"], flags
    assert [bench.flag_name(f) for f in probe] == ["hot"], probe
    assert "idle probe" in probe[0]
    # a fast confirm host (ambient < 1) is clamped to 1.0 — it cannot
    # shrink the sample's denominator below reality
    confirm["real"] = {"sample": 2.9, "ambient": 0.5, "n": 1}
    _, flags, _ = bench.confirmed_regressions(prev, cur, confirm)
    assert "real" in {bench.flag_name(f) for f in flags}


def test_confirmed_regressions_foreign_load_fixture():
    """Shape-independent load invalidity (r11 sustained drill: 24
    burn workers inflated a Python-worker-bound query 30x while every
    control ratio read <= 1.4): a confirm bracketed while foreigners
    burned more cores than CONFIRM_FOREIGN_CORES_CEILING cannot
    convict — even with a low measured ambient — and moves to
    needs_probe; a near-idle foreign reading leaves the normal
    ambient logic in charge."""
    controls = bench.CONTROLS
    prev = {c: 1.0 for c in controls}
    prev.update({"pyworker": 1.0, "calm": 1.0})
    cur = {c: 1.0 for c in controls}
    cur.update({"pyworker": 3.0, "calm": 3.0})

    confirm = {
        # the drill shape: sample 17.3 vs baseline 0.58, controls
        # blind (ambient 1.33) but /proc saw the burn workers
        "pyworker": {"sample": 17.3, "ambient": 1.33,
                     "foreign_cores": 23.6, "n": 1},
        # same ambient, idle foreign reading, sample still slow ->
        # a real conviction
        "calm": {"sample": 2.9, "ambient": 1.0,
                 "foreign_cores": 0.4, "n": 1},
    }
    _, flags, probe = bench.confirmed_regressions(prev, cur, confirm)
    assert [bench.flag_name(f) for f in flags] == ["calm"], flags
    assert [bench.flag_name(f) for f in probe] == ["pyworker"], probe
    assert "foreign cores" in probe[0]


def test_foreign_cores_measurement():
    """_proc_cpu_sample / foreign_cores on this host: CPU burned by
    our OWN subprocess tree must not count as foreign (children roll
    up via cutime after exit).

    RELATIVE assertion (r11 ADVICE): the old absolute `fc < 3.0`
    flaked whenever the shared host happened to run >3 foreign cores
    of background load during the burn even though the attribution
    code was correct.  Instead, bracket the owned burn with a quiet
    interval of the same length: the burn interval's foreign reading
    must not exceed the quiet interval's by the ~1 core the owned
    subprocess burned (leakage would add almost exactly +1.0)."""
    import subprocess
    import sys
    import time

    def _interval(burn: bool) -> float:
        before = bench._proc_cpu_sample()
        t0 = time.perf_counter()
        if burn:
            # burn ~0.5 core-seconds inside our own tree
            subprocess.run(
                [sys.executable, "-c",
                 "import hashlib\n"
                 "b = b'x' * 65536\n"
                 "for _ in range(4000): "
                 "b = hashlib.sha256(b).digest() * 2048"],
                check=True,
            )
        else:
            time.sleep(0.5)
        wall = time.perf_counter() - t0
        return bench.foreign_cores(before, bench._proc_cpu_sample(), wall)

    def _bracket() -> tuple[float, float]:
        fc_quiet_pre = _interval(burn=False)
        fc_burn = _interval(burn=True)
        fc_quiet_post = _interval(burn=False)
        # bracket the burn with quiet samples on BOTH sides and
        # compare against the larger: a stationary background
        # cancels, a moving one is bounded by whichever bracket
        # caught it
        return fc_burn, max(fc_quiet_pre, fc_quiet_post)

    # misattribution of the owned ~1-core burn would read ~+1.0 in
    # EVERY bracket; a background moving faster than both quiet
    # samples can track (e.g. a 32-thread JVM exiting mid-bracket)
    # is transient — settle and re-measure once before failing
    fc_burn, fc_quiet = _bracket()
    if fc_burn >= fc_quiet + 0.7:
        time.sleep(1.0)
        fc_burn, fc_quiet = _bracket()
    if fc_quiet > 8.0:
        import pytest

        pytest.skip(f"host too loaded to measure attribution "
                    f"({fc_quiet:.1f} foreign cores at quiet)")
    assert fc_burn < fc_quiet + 0.7, (fc_burn, fc_quiet)
    assert bench.foreign_cores((0, 0), (0, 0), 0.0) == 0.0


def test_wide_confirm_controls_are_valid():
    """The wide confirm-bracket queries must resolve in the registry,
    have committed baselines (else the ratio is undefined and the
    bracket silently narrows), and never be high_variance.  Shape
    rationale: the r11 sustained-load drill showed narrow-only
    brackets under-measure contention (narrow x1.2 vs wide x3-5), so
    the confirm ambient takes the max of both medians."""
    import os

    qs = entry_mod.queries()
    assert bench.WIDE_CONFIRM_CONTROLS, "wide bracket must be non-empty"
    missing = [c for c in bench.WIDE_CONFIRM_CONTROLS if c not in qs]
    assert not missing, f"wide controls not in registry: {missing}"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    manifest = json.load(open(os.path.join(repo, "bench_manifest.json")))
    noisy = [
        c for c in bench.WIDE_CONFIRM_CONTROLS
        if c in manifest["high_variance"]
    ]
    assert not noisy, f"wide controls marked high_variance: {noisy}"
    _, base = bench._newest_snapshot_queries()
    if base:
        absent = [c for c in bench.WIDE_CONFIRM_CONTROLS if not base.get(c)]
        assert not absent, f"wide controls missing a baseline: {absent}"


def test_confirm_pass_skipset_symmetry():
    """Round-10 ADVICE #3: bench.py's prelim confirm-flag pass must
    not skip any name the gates can flag — otherwise a protected
    high-variance name flagged by a gate has no confirm sample and is
    permanently '[no confirm re-run recorded]'.  Enforced
    structurally: the prelim call in bench.main computes flags with
    the DEFAULT empty skip set."""
    import inspect

    src = inspect.getsource(bench.main)
    import re

    m = re.search(r"prelim = snapshot_regressions\(([^)]*)\)", src)
    assert m, "prelim confirm-flag pass not found in bench.main"
    assert "skip" not in m.group(1), (
        "prelim flags must be computed with no skip set so every "
        "gate-visible flag gets a confirm sample: " + m.group(1)
    )


def test_heavy_names_derived_from_baseline():
    """Every name whose committed warm baseline exceeds 3 s gets the
    median-of-5 treatment (round-9 verdict #4) — the set is a pure
    function of the baseline snapshot so bench.py and the gates
    agree."""
    assert bench.heavy_names({"a": 3.1, "b": 3.0, "c": 0.4}) == {"a"}
    assert bench.HEAVY_WARM_SEC == 3.0


def test_suite_wall_within_budget():
    """Suite wall-time budget (round-9 verdict #6; CPU calibration
    round-10 verdict #6): the newest FULL-suite record
    (SUITE_WALL_LOCAL.json, written by conftest's
    pytest_sessionfinish only for clean exitstatus-0 full runs) must
    not exceed the committed budget (tests/suite_budget.json) after
    CPU calibration — the record's session-start probe (`calib_s`)
    vs the committed idle `probe_baseline_s` estimates how loaded the
    host was, and the wall time is divided by that ratio (clamped to
    >= 1 so a fast host cannot hide growth).  Records predating the
    probe, or a budget file without a baseline, gate on raw wall.
    Subset runs never trip the gate.  Raising the budget is allowed
    only by editing the committed file — the diff IS the recorded
    justification."""
    import os

    import pytest

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rec_path = os.path.join(repo, "SUITE_WALL_LOCAL.json")
    if not os.path.exists(rec_path):
        pytest.skip("no recorded suite run yet")
    rec = json.load(open(rec_path))
    budget = json.load(open(os.path.join(repo, "tests", "suite_budget.json")))
    if rec["n_tests"] < budget["full_suite_min_tests"]:
        pytest.skip(f"last record was a subset run ({rec['n_tests']} tests)")
    calib, base_probe = rec.get("calib_s"), budget.get("probe_baseline_s")
    ratio = (
        max(1.0, calib / base_probe) if calib and base_probe else 1.0
    )
    calibrated = rec["wall_s"] / ratio
    assert calibrated <= budget["budget_s"], (
        f"full suite took {rec['wall_s']}s (calibrated "
        f"{calibrated:.0f}s at host-load ratio x{ratio:.2f}) > "
        f"committed budget {budget['budget_s']}s — harvest the "
        "top-duration tests (pytest --durations=30) or raise the "
        "budget in tests/suite_budget.json with a justification"
    )
