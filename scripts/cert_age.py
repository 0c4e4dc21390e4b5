#!/usr/bin/env python
"""Certification-age ledger (VERDICT r6 item 8): one generated artifact
mapping every registry query to the last round a DRIVER gate certified it
hash-green, so rotation debt is a committed number instead of a comment.

Reads the committed CORRECTNESS_r*.json driver artifacts plus the current
registry and writes CERT_AGE.json:

    {
      "latest_round": 6,
      "queries": {
        "tpch_q1_pricing": {"last_driver_green": 5},
        "zorder_events":   {"last_driver_green": null},   # awaiting gate
        ...
      }
    }

tests/test_registry_coverage.py asserts the rotation invariant on this
artifact: every query is either driver-green within the last TWO rounds or
sits in the first 50 entries of the CURRENT gate head (i.e. it gets a
fresh row at the next driver run). __spark_entry__.py computes that head
from this file, stalest first, so regenerating it each round is the
rotation.

Usage: python scripts/cert_age.py          # writes CERT_AGE.json
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Driver gate rows that certify a query. "rows-only" driver checks (no
#: oracle) are weaker but still driver-fresh; hash mismatches are not.
def _is_green(row: dict) -> bool:
    if row.get("err"):
        return False
    if "hash_match" in row:
        return bool(
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        )
    return bool(row.get("rows_match"))


def build(max_round: int | None = None) -> dict:
    """Build the ledger from the CORRECTNESS_r*.json artifacts on disk.

    ``max_round`` caps which driver rounds are read. The driver writes
    CORRECTNESS_r{N}.json AFTER the builder's last round-N commit, so a
    committed ledger is always one artifact behind the working tree at the
    start of round N+1; the staleness test passes the committed ledger's own
    ``latest_round`` here so that newer, not-yet-ledgered artifacts cannot
    retroactively invalidate it (r7 verdict "What's wrong" #1).
    """
    rounds: dict[int, dict] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as fh:
            rounds[rnd] = json.load(fh)
    latest = max(rounds) if rounds else 0

    import __spark_entry__ as entry

    ledger: dict[str, dict] = {}
    for name in entry.queries():
        last = None
        for rnd in sorted(rounds):
            row = rounds[rnd].get(name)
            if row is not None and _is_green(row):
                last = rnd
        ledger[name] = {"last_driver_green": last}
    return {"latest_round": latest, "queries": ledger}


def main() -> int:
    artifact = build()
    out = os.path.join(REPO, "CERT_AGE.json")
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
        fh.write("\n")
    ages: dict[str | int, int] = {}
    for name, row in artifact["queries"].items():
        last = row["last_driver_green"]
        key = "never" if last is None else artifact["latest_round"] - last
        ages[key] = ages.get(key, 0) + 1
    print(f"latest driver round: {artifact['latest_round']}")
    for age in sorted(ages, key=str):
        print(f"  age {age}: {ages[age]} queries")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
