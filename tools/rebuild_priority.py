"""Regenerate DRIVER_PRIORITY in mintpy_spark/queries.py from the
git-tracked CORRECTNESS_r*.json history.

The driver's correctness gate samples a bounded prefix (50) of
``__spark_entry__.queries()`` per round, so the ordering decides which
registry entries get an official driver check. The authoritative rule
(VERDICT r3 #2):

    DRIVER_PRIORITY = (queries that FAILED their most recent driver check,
                       re-inserted at the front for re-verification)
                    + (registry keys never present in any
                       CORRECTNESS_r*.json, in registry order)

Everything already green in some round is ordered after — the frozen
manifest (tests/registry_frozen.txt) compares as a set, so this is pure
reordering. Run from the repo root:

    python tools/rebuild_priority.py          # rewrite queries.py in place
    python tools/rebuild_priority.py --check  # exit 1 if stale (for tests)
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "# --- DRIVER_PRIORITY generated by tools/rebuild_priority.py ---"
END = "# --- end generated DRIVER_PRIORITY ---"


def correctness_files() -> list[str]:
    """The git-tracked CORRECTNESS_r*.json files, in round order. An
    untracked snapshot dropped into the checkout is not history yet: the
    committed DRIVER_PRIORITY must not depend on it."""
    out = subprocess.run(
        ["git", "ls-files", "--", "CORRECTNESS_r*.json"],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout
    return sorted(os.path.join(REPO, f) for f in out.split())


def correctness_history() -> tuple[set[str], list[str]]:
    """Return (all keys ever driver-checked, keys red in their latest check)."""
    checked: set[str] = set()
    latest: dict[str, bool] = {}
    for path in correctness_files():
        with open(path) as f:
            rec = json.load(f)
        for name, res in rec.items():
            checked.add(name)
            if res.get("err") == "no_oracle":
                # Documented rows-only query: the driver records the Spark
                # row count with null match fields. Ran clean = checked.
                ok = res.get("spark_rows") is not None
            else:
                ok = bool(
                    res.get("rows_match")
                    and res.get("schema_match")
                    and res.get("hash_match", True)
                    and not res.get("err")
                )
            latest[name] = ok
    failed = [k for k, ok in latest.items() if not ok]
    return checked, failed


def registry_order() -> list[str]:
    # SORTED, not insertion order: _QUERIES insertion order shifts when a
    # test (or any caller) imports one query module before _ensure_ext,
    # which would make the generated tuple — and the staleness test —
    # depend on import order.
    from mintpy_spark import queries as q

    q._ensure_ext()
    return sorted(q._QUERIES)


def build_priority() -> list[str]:
    checked, failed = correctness_history()
    order = registry_order()
    never = [k for k in order if k not in checked]
    # failed first (in registry order, deterministic), then never-checked
    failed_ordered = [k for k in order if k in set(failed)]
    return failed_ordered + never


def render(priority: list[str], checked: set[str], failed: list[str]) -> str:
    lines = [BEGIN]
    lines.append(
        "# %d entries: %d red-in-latest-driver-check first, then %d never"
        % (len(priority), len(failed), len(priority) - len(failed))
    )
    lines.append(
        "# driver-checked (registry minus %d keys across CORRECTNESS_r*.json)."
        % len(checked)
    )
    lines.append("DRIVER_PRIORITY: tuple[str, ...] = (")
    for k in priority:
        lines.append(f'    "{k}",')
    lines.append(")")
    lines.append(END)
    return "\n".join(lines)


def main() -> int:
    check_only = "--check" in sys.argv
    priority = build_priority()
    checked, failed = correctness_history()
    block = render(priority, checked, failed)

    target = os.path.join(REPO, "mintpy_spark", "queries.py")
    with open(target) as f:
        src = f.read()
    pat = re.compile(re.escape(BEGIN) + r".*?" + re.escape(END), re.DOTALL)
    if not pat.search(src):
        print(f"sentinels not found in {target}", file=sys.stderr)
        return 2
    new = pat.sub(block.replace("\\", "\\\\"), src)
    if check_only:
        if new != src:
            print("DRIVER_PRIORITY is stale; run python tools/rebuild_priority.py")
            return 1
        print("DRIVER_PRIORITY is current")
        return 0
    if new != src:
        with open(target, "w") as f:
            f.write(new)
        print(f"rewrote DRIVER_PRIORITY: {len(priority)} entries "
              f"({len(failed)} re-checks + {len(priority) - len(failed)} never-checked)")
    else:
        print("DRIVER_PRIORITY already current")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
