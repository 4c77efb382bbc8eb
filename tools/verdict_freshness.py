"""Per-entry verdict freshness: which registry entries' executed plans
or oracle SQL changed since their last green driver verdict.

The driver scores the first 50 ``queries()`` entries per round
(CORRECTNESS_r{N}.json); an entry whose plan or oracle changed after its
last green verdict carries a verdict about a comparison that no longer
runs. Its HEAD fingerprint (FINGERPRINTS.json, from
tools/check_correctness.py) is compared with its fingerprint in the tree
of that round's boundary commit ("round N: verdict/advice/correctness/
bench", which adds only verdict artifacts): that tree's
FINGERPRINTS.json from round 15 on, and
FINGERPRINTS_bootstrap.json (captured once from those trees) for rounds
8-14. Prints {entry: {"round": N|null, "fresh": bool}}; fresh=False means
changed since the verdict or never scored. tests/test_plan_audit.py
asserts every non-fresh entry sorts inside the scored-50 window, but for a
listed one-round overflow that leads the region below it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout


def round_commits() -> dict[int, str]:
    """round number -> boundary commit sha (the tree the driver scored)."""
    out = _git("log", "--format=%H %s")
    rc = {}
    for line in out.splitlines():
        sha, _, subj = line.partition(" ")
        if m := re.match(r"round (\d+): verdict", subj):
            rc[int(m[1])] = sha
    return rc


def latest_green_verdict() -> dict[str, int]:
    """entry -> round of its latest green (hash or rows-only pass) verdict."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        for key, rec in json.load(open(path)).items():
            ok = rec.get("hash_match") is True or (
                rec.get("hash_match") is None
                and rec.get("rows_match") is True
                and rec.get("err") is None
            )
            if ok:
                latest[key] = max(rnd, latest.get(key, 0))
    return latest


def fingerprints_at(rnd: int, commit: str) -> dict[str, str]:
    """entry -> plan fingerprint in the tree the driver scored at ``rnd``."""
    if rnd >= 15:
        return json.loads(_git("show", f"{commit}:FINGERPRINTS.json"))["entries"]
    with open(os.path.join(REPO, "FINGERPRINTS_bootstrap.json")) as f:
        return json.load(f).get(str(rnd), {}).get("entries", {})


def freshness() -> dict[str, dict]:
    import __spark_entry__ as e

    with open(os.path.join(REPO, "FINGERPRINTS.json")) as f:
        head = json.load(f)["entries"]
    rc = round_commits()
    verdicts = latest_green_verdict()
    then = {rnd: fingerprints_at(rnd, rc[rnd]) for rnd in set(verdicts.values()) if rnd in rc}
    out = {}
    for name in e.queries():
        rnd, now = verdicts.get(name), head.get(name)
        out[name] = {"round": rnd, "fresh": now is not None and then.get(rnd, {}).get(name) == now}
    return out


if __name__ == "__main__":
    import sys

    sys.path.insert(0, REPO)
    print(json.dumps(freshness(), indent=1, sort_keys=True))
