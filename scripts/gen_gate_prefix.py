#!/usr/bin/env python
"""Compute the driver gate prefix (``_GATE_PREFIX`` in ``__spark_entry__.py``)
from recorded evidence age, so a round can't mis-rotate by hand.

The driver samples a ~50-entry prefix of ``queries()`` each round and records
per-entry hash evidence in ``CORRECTNESS_r{N}.json``. The prefix we want is:

1. entries whose code changed this round (``--changed``) — these MUST be
   driver-re-proven regardless of evidence age; unknown names are an error,
   rows-only (oracle-less) names are rejected (the driver can't hash-check
   them, so listing them would waste a sampled slot);
2. every other oracle-backed catalog entry, ordered by (latest driver round
   that sampled it, name) — never-sampled entries sort first (round 0);
3. truncated to exactly ``--cap`` names (default 50, the driver's window).

Usage:
    python scripts/gen_gate_prefix.py --changed customer_view
    python scripts/gen_gate_prefix.py --check   # assert == committed prefix

``--check`` regenerates from the DECLARED changed set — the committed
``_GATE_CHANGED`` list next to ``_GATE_PREFIX`` — and diffs the result
against the committed prefix, so any hand-mangled rotation fails loudly.
(The changed set must be declared, not inferred: any inference that
absorbs out-of-order entries into the head regenerates every mangled list
to itself, making the check vacuous.)
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def evidence_age(
    repo: str = REPO, max_round: int | None = None
) -> dict[str, int]:
    """Latest driver round that recorded evidence for each entry name.

    ``max_round`` is the committed evidence HORIZON
    (``_GATE_EVIDENCE_MAX_ROUND`` in ``__spark_entry__.py``): artifacts from
    later rounds are ignored. Without it the check had a built-in lifecycle
    race (round-9 verdict item 1): the driver drops ``CORRECTNESS_r{N}.json``
    AFTER the builder's last commit, shifting the ages the committed prefix
    was generated from and guaranteeing a red ``--check`` until the next
    rotation. Pinning the horizon next to the prefix makes the check
    reproducible at ANY point in the round lifecycle; the round workflow
    bumps horizon + prefix together."""
    latest: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(p) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


#: sanity bound on the declared changed set — the rotation exists to
#: refresh STALE evidence; a changed head this large would crowd it out
#: (and a changed list equal to the whole prefix would make --check
#: vacuous again).
MAX_CHANGED = 15


def gen_prefix(
    changed: list[str],
    cap: int = 50,
    latest: dict[str, int] | None = None,
    max_round: int | None = None,
) -> list[str]:
    from energy_data_stream_processing_spark.plans.catalog import all_queries

    qs = all_queries()
    oracle_backed = {n for n in qs if qs[n].oracle is not None}
    unknown = [n for n in changed if n not in qs]
    if unknown:
        raise SystemExit(f"--changed names not in catalog: {unknown}")
    rows_only = [n for n in changed if n not in oracle_backed]
    if rows_only:
        raise SystemExit(
            f"--changed names are rows-only (no oracle, not hash-checkable "
            f"by the driver): {rows_only}"
        )
    head: list[str] = []
    for n in changed:  # preserve caller order, drop dups
        if n not in head:
            head.append(n)
    if len(head) > MAX_CHANGED:
        raise SystemExit(
            f"{len(head)} changed entries exceed the {MAX_CHANGED}-name "
            "bound — a head that large starves the evidence rotation"
        )
    if latest is None:
        latest = evidence_age(max_round=max_round)
    tail = sorted(
        (n for n in oracle_backed if n not in head),
        key=lambda n: (latest.get(n, 0), n),
    )
    return (head + tail)[:cap]


def committed_lists() -> tuple[list[str], list[str], int]:
    """(``_GATE_CHANGED``, ``_GATE_PREFIX``, ``_GATE_EVIDENCE_MAX_ROUND``)
    as committed in ``__spark_entry__.py``."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return (
        list(mod._GATE_CHANGED),
        list(mod._GATE_PREFIX),
        int(mod._GATE_EVIDENCE_MAX_ROUND),
    )


#: the driver samples a ~50-entry prefix of queries(): fewer names starve a
#: rotation slot, more silently get no evidence — the committed list must
#: be EXACTLY this long (checked, not just regenerated at whatever length
#: was committed, which would let a truncated/extended list pass).
DRIVER_WINDOW = 50


def check() -> str:
    """Raise SystemExit(1) if the committed prefix does not regenerate from
    the committed changed set + evidence horizon; return a summary line
    otherwise."""
    changed, committed, horizon = committed_lists()
    if len(committed) != DRIVER_WINDOW:
        print(
            f"MISMATCH: committed prefix has {len(committed)} names, the "
            f"driver window is exactly {DRIVER_WINDOW}",
            file=sys.stderr,
        )
        raise SystemExit(1)
    regen = gen_prefix(changed, cap=len(committed), max_round=horizon)
    if regen != committed:
        print("MISMATCH committed vs regenerated:", file=sys.stderr)
        for i, (a, b) in enumerate(zip(committed, regen)):
            if a != b:
                print(f"  [{i}] committed={a!r} regenerated={b!r}", file=sys.stderr)
        raise SystemExit(1)
    return (
        f"ok — committed prefix of {len(committed)} regenerates from "
        f"_GATE_CHANGED={changed} at evidence horizon r{horizon}"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--changed", nargs="*", default=[],
                    help="entries whose code changed this round (head of prefix)")
    ap.add_argument("--cap", type=int, default=50)
    ap.add_argument("--max-round", type=int, default=None,
                    help="evidence horizon: ignore CORRECTNESS_r*.json beyond "
                    "this round (commit the same value as "
                    "_GATE_EVIDENCE_MAX_ROUND)")
    ap.add_argument("--check", action="store_true",
                    help="assert the committed _GATE_PREFIX regenerates from "
                    "the committed _GATE_CHANGED (exit 1 with a diff otherwise)")
    args = ap.parse_args()

    if args.check:
        print(check())
        return

    for n in gen_prefix(args.changed, cap=args.cap, max_round=args.max_round):
        print(n)


if __name__ == "__main__":
    main()
