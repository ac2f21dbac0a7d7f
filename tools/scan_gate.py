"""Standing pre-flip scan-floor gate (VERDICT r15 task 4).

Runs `tools/scan_probe.py` (fresh session per query — no cross-query
cache contamination) over the scan-sensitive watchlist in
`tools/scan_floors.json` and asserts no query's TOTAL parquet bytes
read at sf0.01 regressed above its recorded floor (+15% ratio
tolerance — an accidental extra corpus pass on these shapes adds
17–50%, so the tripwire fires well above the metric's unit rounding).
The r15 auditor caught two plan-text lies — the
lazy-persist race and the AQE broadcast-subtree ReusedExchange that
never reused at runtime — so this gate runs on FILE BYTES, the only
accounting that can't lie about real reads.

Usage:
    PYTHONPATH=. python tools/scan_gate.py            # gate (exit 1 on regress)
    PYTHONPATH=. python tools/scan_gate.py --record   # rewrite floors from measured
    PYTHONPATH=. python tools/scan_gate.py q10_embedding_neardup ...  # subset

Per round: run the gate BEFORE the roster flip, paste the printed
table into SCALING.md's floor section, and commit scan_floors.json
only via --record with a stated reason (a floor moves DOWN when an
optimization lands, UP only with an adjudicated why).
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
FLOORS_PATH = os.path.join(HERE, "scan_floors.json")
TOL = 0.15  # ratio tolerance; smallest real regression on the list ~1.17x


def probe(qname: str) -> int:
    """Run one fresh-session probe; return TOTAL parquet bytes read.

    One process per query: the parquet schema memo is process-wide, and
    a query must not inherit another's memo or cache. Attribution-free
    on purpose: a regressed shape (one more corpus pass) always moves
    the total by at least a full table size, which the tolerance never
    hides."""
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "scan_probe.py"), qname],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )
    mline = next(
        (ln for ln in out.stdout.splitlines()
         if ln.startswith(f"PROBE_TOTAL_BYTES {qname} ")), None
    )
    if mline is None:
        raise RuntimeError(
            f"{qname}: no PROBE_TOTAL_BYTES line\n--- stdout\n"
            f"{out.stdout[-2000:]}\n--- stderr\n{out.stderr[-2000:]}"
        )
    total = int(mline.rsplit(" ", 1)[1])
    if total <= 0:
        # every watchlist query reads parquet; zero means the probe or
        # the store metric broke, and a broken probe must NEVER read as
        # a green gate (r16 review finding)
        raise RuntimeError(
            f"{qname}: probe measured 0 bytes read — probe/store-metric "
            f"breakage, not a real floor\n--- stdout\n{out.stdout[-2000:]}"
        )
    return total


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    record = "--record" in sys.argv
    floors: dict[str, int] = json.load(open(FLOORS_PATH))
    names = args or sorted(floors)

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = {n: ex.submit(probe, n) for n in names}
        measured = {n: f.result() for n, f in futs.items()}

    bad: list[str] = []
    print("| query | floor bytes | measured | ratio | verdict |")
    print("|---|---|---|---|---|")
    for n in names:
        fl = floors.get(n)
        got = measured[n]
        if fl:
            ratio = got / fl
            ok = ratio <= 1.0 + TOL
            print(f"| {n} | {fl:,} | {got:,} | {ratio:.2f} | "
                  f"{'ok' if ok else 'REGRESSED'} |")
            if not ok:
                bad.append(f"{n}: {got:,} B > floor {fl:,} B ({ratio:.2f}x)")
        else:
            print(f"| {n} | (none) | {got:,} | — | NEW |")

    if record:
        merged = dict(floors)
        for n in names:
            merged[n] = measured[n]
        json.dump(merged, open(FLOORS_PATH, "w"), indent=1, sort_keys=True)
        print(f"recorded -> {FLOORS_PATH}")
        return 0
    if bad:
        print("SCAN GATE FAILED:\n  " + "\n  ".join(bad))
        return 1
    print("SCAN GATE OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
