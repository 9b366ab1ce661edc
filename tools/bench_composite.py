#!/usr/bin/env python3
"""Steal-verified composite acceptance — the campaign fallback the r16
verdict authorized ("accept the best-of-N reading whose only gate
failures are flagged checkpoints with matching trip clusters"), made
mechanical by bench.py's r17 CPU-steal accounting.

Usage::

    python tools/bench_composite.py ATTEMPT_JSON [ATTEMPT_JSON ...]
    python tools/bench_composite.py --write ATTEMPT_JSON [...]

Why a composite: fourteen straight full-suite acceptance attempts
(four r15 manual, nine r16, the r17 campaign) failed on external load,
and the r17 instrumentation showed why no strict pass is likely:
hypervisor CPU steal (invisible to in-guest ps/loadavg — the r17
spike-triggered ps sampler saw only the bench during flagged windows)
roams across the ~11-minute run, and a strict pass needs ~14
consecutive clean windows. Per-window steal%% turns that from a
liability into a filter: attempt 5's ten trips ALL sat in its only two
steal-elevated windows (4.17%% / 2.31%%), while its twelve clean
windows (<= 0.4%%) read a median 1.002x vs pins. A row timed in a
steal-clean, checkpoint-quiet window is a quiet reading of that row,
regardless of what happened to other windows of the same run.

Composite rule, per row (windows and their rows come from bench.SUITES):

- a row QUALIFIES in an attempt iff its bounding window had
  steal_pct <= STEAL_LO (0.5%%), its closing checkpoint q1 probe was
  under that checkpoint's quiet ceiling (BENCH_PINS.json, r16
  position-aware calibration), and the window's OPENING bound was
  quiet too (pre-control for the headline window; the previous
  checkpoint otherwise; post-control for the tail window);
- the composite value is the MIN over qualifying attempts. NOTE the
  sampling bias (ADVICE r17): each attempt's value is already a
  min-of-N-within-a-session, so the composite is a min over M*N
  samples — biased slightly LOW versus the pins' single-session
  protocol, and row-dependently so (rows with more clean attempts get
  more samples). The bias is conservative for the residual-trip
  regression check below (a row that trips even on its BEST clean
  reading is all the more real) but makes composite values not
  strictly commensurable with strict-gate readings; the accepted_note
  documents this on any blob the tool writes;
- a row with NO qualifying attempt leaves the composite INCOMPLETE:
  the tool reports it and refuses --write. No row is ever taken from
  a steal-elevated or checkpoint-flagged window.

Every attempt must carry steal accounting (bench.py r17+) and
identical code (same protocol, same pins). The tool cross-checks the
composite with the per-row tripwire: a row whose min QUALIFYING
reading still trips vs its pin is a REAL candidate regression (no
contamination excuse left) and blocks --write.

--write replaces BENCH_ACCEPTED.json (atomic) with the composite blob;
the sources and per-row provenance go in "composite_sources" /
"accepted_note". The blob's per-window metadata (suite_checkpoints,
bracketing controls, steal fields) is SYNTHESIZED from the attempts
that actually sourced each window's rows — worst-case per field over
the sourcing attempts — never copied from attempt 1, whose windows the
rows may not have come from (ADVICE r17: a composite exists precisely
because no single attempt was fully clean, so attempt 1's verbatim
metadata would usually describe a contaminated window and fail the
accepted-blob invariant). The written blob is re-validated against
that invariant (tests/test_bench_composite.py::
test_accepted_windows_not_contaminated) before the atomic replace.
The BENCH_BASELINE.md paragraph documenting the campaign is still
written by hand in the same commit.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from bench import TAIL  # noqa: E402

STEAL_LO = 0.5  # % — sourcing bar; r17 calibration: clean windows read <= 0.4
# Observed contamination floor: every r17 trip sat in a window with
# steal >= 1.5%, while windows at 0.5-1.04% (accepted attempt 7)
# produced zero trips. STEAL_LO stays conservative for SOURCING;
# STEAL_HI is the level at which a window is positively contaminated.
STEAL_HI = 1.5


def _clean(w: dict) -> bool:
    """A window rows may be sourced from: steal-clean, both probes quiet."""
    return (w["steal"] is not None and w["steal"] <= STEAL_LO
            and w["opener_ok"] and w["closer_ok"])


def contaminated(windows: dict[str, dict]) -> dict[str, dict]:
    """The windows failing the accepted-blob invariant: steal at the
    contamination floor (or unrecorded), or a loaded bounding probe."""
    return {t: w for t, w in windows.items()
            if (w["steal"] is None or w["steal"] >= STEAL_HI
                or not w["closer_ok"] or not w["opener_ok"])}


def build_composite(paths: list[str], pins_doc: dict) -> dict:
    attempts = []
    for p in paths:
        d = json.load(open(p))
        if "steal_pct_run" not in d:
            raise SystemExit(f"{p}: no steal accounting — every composite "
                             f"source must be a bench.py r17+ reading")
        attempts.append((os.path.basename(p), d,
                         bench.quiet_windows(d, pins_doc),
                         bench.load_timings(d)))

    composite: dict[str, float] = {}
    provenance: dict[str, str] = {}
    uncovered: dict[str, list] = {}
    window_sources: dict[str, set] = {}
    for tag, (_, suites) in bench.windows().items():
        clean_attempts = [(name, t) for name, d, w, t in attempts
                          if _clean(w[tag])]
        for row in (r.name for s in suites for r in s.rows):
            # collect candidates BEFORE min(): a row can be absent from
            # a clean attempt's timings (truncated/partially-schema'd
            # archive) — that is "uncovered", not a ValueError
            # (ADVICE r17)
            candidates = [(n, t[row]) for n, t in clean_attempts
                          if row in t]
            if not candidates:
                uncovered[row] = [
                    (name, w[tag]["steal"], w[tag]["opener_ok"],
                     w[tag]["closer_ok"]) for name, d, w, t in attempts]
                continue
            name, sec = min(candidates, key=lambda x: x[1])
            composite[row] = sec
            provenance[row] = name
            window_sources.setdefault(tag, set()).add(name)

    pins = pins_doc["pins"]
    tripwire = float(pins_doc["tripwire"])
    residual_trips = [
        (composite[r] / pins[r]["pin"], r, composite[r], pins[r]["pin"])
        for r in composite
        if r in pins and composite[r] / pins[r]["pin"] > tripwire
    ]
    return {
        "composite": composite,
        "provenance": provenance,
        "uncovered": uncovered,
        "residual_trips": sorted(residual_trips, reverse=True),
        "attempts": [(name, w) for name, d, w, t in attempts],
        "first_detail": attempts[0][1],
        "window_sources": {t: sorted(s) for t, s in window_sources.items()},
        "details_by_name": {name: d for name, d, w, t in attempts},
    }


def synthesize_window_meta(result: dict) -> dict:
    """Per-window metadata for a composite blob, built from the
    attempts that actually sourced each window's rows (ADVICE r17).

    Worst-case (max) per field over the sourcing attempts: every
    sourcing window is steal-clean and probe-quiet by qualification,
    so the max still certifies the blob against the accepted-window
    invariant while honestly bounding the provenance.  Returns the
    field overrides to apply on top of the template detail.
    """
    details = result["details_by_name"]
    sources = result["window_sources"]

    def docs(tag: str) -> list[dict]:
        return [details[n] for n in sources.get(tag, ())]

    checkpoints: dict[str, dict] = {}
    for tag in sources:
        if tag == TAIL:
            continue
        cps = [d["suite_checkpoints"][tag] for d in docs(tag)]
        checkpoints[tag] = {
            field: max(cp[field] for cp in cps)
            for field in cps[0]
            if all(field in cp and isinstance(cp[field], (int, float))
                   for cp in cps)
        }
    overrides: dict = {"suite_checkpoints": checkpoints}
    if docs("after_headline"):
        overrides["control_q1_pre"] = max(
            d["control_q1_pre"] for d in docs("after_headline"))
    if docs(TAIL):
        overrides["control_q1_post"] = max(
            d["control_q1_post"] for d in docs(TAIL))
        overrides["control_q1"] = overrides["control_q1_post"]
        overrides["steal_pct_tail"] = max(
            d["steal_pct_tail"] for d in docs(TAIL))
    all_sources = {n for names in sources.values() for n in names}
    overrides["steal_pct_run"] = max(
        details[n]["steal_pct_run"] for n in all_sources)
    return overrides


def main(argv: list[str]) -> int:
    write = "--write" in argv
    paths = [a for a in argv[1:] if a != "--write"]
    if not paths:
        raise SystemExit(__doc__)
    pins_doc = bench.load_pins()
    result = build_composite(paths, pins_doc)

    print(f"composite sources: {len(result['attempts'])} attempts")
    for name, windows in result["attempts"]:
        clean = [t for t, w in windows.items() if _clean(w)]
        dirty = {t: w["steal"] for t, w in windows.items() if not _clean(w)}
        print(f"  {name}: {len(clean)}/{len(windows)} windows clean; "
              f"dirty: {dirty}")
    keys = bench.rows_by_key()
    headline = {n: s for n, s in result["composite"].items()
                if n in keys["queries"]}
    print(f"rows composed: {len(result['composite'])}  "
          f"headline sum: {round(sum(headline.values()), 3)}")
    if result["uncovered"]:
        print(f"INCOMPLETE — rows with no steal-clean window in any "
              f"attempt ({len(result['uncovered'])}):")
        for row, att in result["uncovered"].items():
            print(f"  {row}: {att}")
    if result["residual_trips"]:
        print("RESIDUAL TRIPS in steal-clean windows — candidate REAL "
              "regressions, not contamination; triage before accepting:")
        for ratio, row, sec, pin in result["residual_trips"]:
            print(f"  {ratio:5.2f}x  {row}  {sec:.3f} vs pin {pin:.3f}")
    ok = not result["uncovered"] and not result["residual_trips"]
    print(f"composite verdict: {'ACCEPTABLE' if ok else 'NOT ACCEPTABLE'}")

    if write and not ok:
        print("--write refused: composite not acceptable")
        return 1
    if write:
        import time as _time

        blob = dict(result["first_detail"])
        for key, rows in keys.items():
            blob[key] = {n: result["composite"][n] for n in rows}
            if key != "queries":
                blob["value_" + key[len("queries_"):]] = round(
                    sum(blob[key].values()), 3)
        blob["value"] = round(sum(blob["queries"].values()), 3)
        blob["composite_sources"] = result["provenance"]
        # per-window metadata must describe the windows the rows were
        # actually sourced from, not attempt 1's run (ADVICE r17)
        blob.update(synthesize_window_meta(result))
        blob["accepted_note"] = (
            "Steal-verified COMPOSITE accepted reading ("
            + _time.strftime("%Y-%m-%d")
            + ", tools/bench_composite.py): after 14 consecutive strict "
            "acceptance attempts failed on roaming hypervisor CPU steal "
            "(r15 manual x4, r16 campaign x9 — BENCH_BASELINE.md; r17 "
            "campaign), each row is taken as the min over attempts in "
            "which its bounding suite window was steal-clean (<= "
            + str(STEAL_LO)
            + "% /proc/stat steal) AND both bounding q1 probes read "
            "under the r16 position-aware quiet ceilings. Zero rows "
            "from contaminated windows; zero residual tripwire "
            "violations. Per-row sources in composite_sources; "
            "suite_checkpoints / controls / steal fields are "
            "synthesized worst-case over each window's SOURCING "
            "attempts, not any single run's. Sampling-bias note: each "
            "row is a min over (qualifying attempts x in-session "
            "runs), i.e. more samples than the pins' single-session "
            "min-of-" + str(blob.get("n_runs", 3)) + " protocol — "
            "biased slightly low per row, conservatively so for the "
            "residual-trip check. The driver's per-round loaded-host "
            "reading overwrites BENCH_DETAIL.json, never this file."
        )
        # re-validate the blob against the accepted-window invariant
        # the suite asserts (test_accepted_windows_not_contaminated)
        # BEFORE the atomic replace — a blob that would turn the tree
        # red must never land (ADVICE r17)
        bad = contaminated(bench.quiet_windows(blob, pins_doc))
        if bad:
            print(f"--write refused: synthesized blob fails the "
                  f"accepted-window invariant: {bad}")
            return 1
        accepted_path = os.path.join(bench.REPO, "BENCH_ACCEPTED.json")
        bench.write_json(accepted_path, blob)
        print(f"wrote {accepted_path}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
