"""Generate `_GATE_PRIORITY` from the CORRECTNESS_r*.json union.

The correctness driver hash-checks only the FIRST 50 entries of
``queries()`` in iteration order, so certification must rotate across
rounds.  The committed order in ``swiftlake_spark/queries/__init__.py``
was hand-built through round 10; from round 11 on it is generated here
(VERDICT r10 ask #2) and pinned by ``tests/test_gate_rotation.py`` so a
hand edit that would let a registry entry exceed its staleness bound
(3 rounds; 4 for the tier-2 names in ``_GATE_TIER2``) fails CI.

Rotation policy (same convention the r9/r10 verdicts ratified):

1. every query whose last-certified round is the MINIMUM over the union
   (the staleness boundary) heads the window, oldest raw certification
   round first (tier-2 names reach the boundary one round older), then
   in the iteration order of that round's CORRECTNESS file.  The order
   is total, so a boundary cohort larger than the window splits the
   same way on every run: its first ``WINDOW`` names fill the window
   and the overflow takes the first slots after it — the head of the
   next regenerated window, where it is the whole boundary;
2. queries registered but never driver-certified follow (they must get
   their first certification before they can enter the rotation);
3. the remaining queries follow ascending by last-certified round, so
   the window tail re-certifies the next-oldest block early.

The emitted list is the FULL ordering; the driver window is its first
50 names.  Each tier-1 query needs a slot at least every 3 rounds and
each tier-2 query every 4, so the bounds are feasible in steady state
iff N1/3 + N2/4 <= ``WINDOW`` for N1 tier-1 and N2 tier-2 names; the
pinning test asserts exactly that.  History can still leave a cohort
that no order can serve in time (a round whose window repeated the
previous one, say): if more than ``WINDOW * k`` names are past their
bound by the k-th round from now, at least the excess are late in that
round under ANY order.  That pigeonhole deficit bounds the transient;
the pinning test asserts the generated order is never late beyond it,
and that an over-full boundary's overflow heads the next window.

Usage:
    python scripts/gen_gate_priority.py           # print the list source
    python scripts/gen_gate_priority.py --check   # exit 1 if committed != generated
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

WINDOW = 50  # driver gate width (CORRECTNESS_r*.json have exactly 50 keys)


def _oracle_names() -> frozenset[str]:
    """Names whose registry entry declares a DuckDB oracle (``all_oracles()``)."""
    from swiftlake_spark.queries import REGISTRY, _load_all

    _load_all()
    return frozenset(n for n, q in REGISTRY.items() if q.oracle is not None)


def certified_rounds(
    repo: str = _REPO,
    exclude_newest: bool = False,
    oracle_names: frozenset[str] | None = None,
) -> dict[str, tuple[int, int]]:
    """name -> (last green round, key position in that round's file).

    Green criterion (tightened r13, VERDICT r12 ask #1): an oracle-bearing
    query is green ONLY if the driver recorded ``hash_match``.  The weaker
    rows-only-with-no-error fallback applies exclusively to names absent
    from ``all_oracles()`` (non-SQL-expressible queries, where rows-only is
    all the driver ever records).  A ``hash_match: false`` record on an
    oracle-bearing query therefore never advances its last-green round —
    the failing query stays at the staleness boundary and HEADS the next
    window instead of rotating out for up to 4 rounds (the r12 q121 bug).

    ``exclude_newest=True`` drops the highest-numbered CORRECTNESS file,
    reconstructing the union the PREVIOUS session committed its window
    against — the pinning tests accept that one generation of lag so the
    suite is green at judge handoff (the driver writes the new file after
    the session ends; VERDICT r11 ask #3).
    """
    if oracle_names is None:
        oracle_names = _oracle_names()
    paths = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if exclude_newest and paths:
        paths = paths[:-1]
    out: dict[str, tuple[int, int]] = {}
    for path in paths:
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as fh:
            data = json.load(fh)
        for pos, (name, rec) in enumerate(data.items()):
            if name in oracle_names:
                green = bool(rec.get("hash_match"))
            else:
                green = bool(rec.get("rows_match")) and rec.get("err") is None
            if green and (name not in out or rnd >= out[name][0]):
                out[name] = (rnd, pos)
    return out


def generate(
    registry_names: list[str],
    certified: dict[str, tuple[int, int]],
    tier2: frozenset[str] = frozenset(),
) -> list[str]:
    """Full gate ordering per the rotation policy above.

    ``tier2`` names (ratified r12, VERDICT r11 ask #4) get ONE round of
    extra staleness allowance: their effective last-certified round is
    ``last + 1``, so they queue behind same-age tier-1 queries and may
    reach 4 rounds of staleness instead of 3.  Tier-2 membership is
    reserved for verdict-style certification queries whose operator
    internals are independently pytest-pinned (codec golden fixtures,
    mutation fuzz, recall bars), so a one-round-later driver check
    cannot hide a regression the suite would miss.  Feasibility:
    N1/3 + N2/4 <= window (each tier-1 query consumes a slot at least
    every 3 rounds, tier-2 every 4).
    """
    reg_pos = {n: i for i, n in enumerate(registry_names)}
    known = [n for n in registry_names if n in certified]
    never = [n for n in registry_names if n not in certified]
    if not known:
        return registry_names

    def eff(n: str) -> int:
        return certified[n][0] + (1 if n in tier2 else 0)

    boundary_round = min(eff(n) for n in known)
    boundary = [n for n in known if eff(n) == boundary_round]
    rest = [n for n in known if eff(n) != boundary_round]
    # (raw round, file position) is unique per name: the split of an
    # over-full boundary never depends on registry or dict order
    boundary.sort(key=lambda n: certified[n])
    never.sort(key=lambda n: reg_pos[n])
    rest.sort(key=lambda n: (eff(n), certified[n][1]))
    return boundary + never + rest


def _registry_names() -> tuple[list[str], frozenset[str]]:
    from swiftlake_spark.queries import _GATE_TIER2, REGISTRY, _load_all

    _load_all()
    return list(REGISTRY), frozenset(_GATE_TIER2)


def _as_source(names: list[str], certified: dict[str, tuple[int, int]]) -> str:
    lines = ["_GATE_PRIORITY = ["]
    cur = None
    for n in names:
        tag = f"last certified r{certified[n][0]}" if n in certified else "never driver-certified"
        if tag != cur:
            lines.append(f"    # {tag}")
            cur = tag
        lines.append(f"    {n!r},")
    lines.append("]")
    return "\n".join(lines)


def main() -> int:
    certified = certified_rounds()
    names, tier2 = _registry_names()
    full = generate(names, certified, tier2)
    if "--check" in sys.argv:
        from swiftlake_spark.queries import _GATE_PRIORITY

        want = full[: max(len(_GATE_PRIORITY), WINDOW)]
        if list(_GATE_PRIORITY)[:WINDOW] != want[:WINDOW]:
            print("MISMATCH: committed _GATE_PRIORITY window != generated")
            for i, (a, b) in enumerate(zip(list(_GATE_PRIORITY)[:WINDOW], want[:WINDOW])):
                if a != b:
                    print(f"  slot {i}: committed={a} generated={b}")
            return 1
        print(f"OK: committed window matches generated ({WINDOW} slots, {len(names)} registered)")
        return 0
    print(_as_source(full[:WINDOW], certified))
    n_stale = sum(1 for n in full[:WINDOW] if n in certified)
    print(
        f"# window={WINDOW} registry={len(names)} "
        f"(certified in window: {n_stale}, new: {WINDOW - n_stale})",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
