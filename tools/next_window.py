"""Display the next driver-check window under the standing rotation
policy (operators/__init__.py — ``current_window`` is the single
source of truth; this tool only prints it).  The 50 registry entries
whose most recent driver check is OLDEST win the window — changed ops
first (``_CHANGED_THIS_ROUND`` entries newer than the op's own last
green driver check — certified ones retire automatically), then
never-checked, then by last-checked round ascending, ties broken by
module order.

    python tools/next_window.py [window_size]

Prints the window plus a staleness histogram so each round can be
sanity-checked at a glance.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from parquet_batch_spark.operators import (
        _active_changed,
        _last_checked,
        _raw_queries,
        _stalest_window,
        current_window,
    )

    names = list(_raw_queries())
    seen = dict(_last_checked())
    by_round: dict[int, int] = {}
    for n in names:
        by_round[seen.get(n, 0)] = by_round.get(seen.get(n, 0), 0) + 1
    print("# staleness (last-checked round -> count):", dict(sorted(by_round.items())))
    if len(sys.argv) > 1:
        window = _stalest_window(names, seen, _active_changed(seen), int(sys.argv[1]))
        print(f"# stalest-first {sys.argv[1]}-slot window (policy preview):")
    else:
        window = current_window(names)
        print("# current_window() — what the registry actually emits first:")
    for n in window:
        print(f'    "{n}",')


if __name__ == "__main__":
    main()
